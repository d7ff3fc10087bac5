"""Output checks, run untimed after a pass; ``run.check`` turns what they
find into failed operations.

The reference for every tier is DuckDB over the raw parquet plus the late
batches the pass applied; the registry queries are compared with their
DuckDB twins (``queries.ORACLES``) the way the engine's oracle check does:
same columns, same dtype kinds, exactly equal values, -0.0 distinct from
+0.0.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.dataset as ds

from tods_spark.functions import gorilla
from tods_spark.queries import ORACLES

K = 64  # digests are exact sorted samples up to K values (functions/sketches)
TIER_SQL_INTERVAL = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}
REGISTRY_TABLES = ("region", "nation", "customer", "orders", "lineitem",
                   "events", "documents", "embeddings")


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _tier_sql(base: str, tier: str) -> str:
    return (f"read_parquet('{base}/tier_{tier}/*/*.parquet', "
            "hive_partitioning = true, hive_types_autocast = false)")


def _raw_sql(paths: list[str]) -> str:
    files = ", ".join(f"'{p}'" for p in paths)
    return f"read_parquet([{files}])"


def tier_mismatches(base: str, raw_paths: list[str],
                    stored_1m: set[str]) -> dict[str, set[str]]:
    """Days whose stored tier rows differ from DuckDB's aggregate of
    raw ∪ applied late rows (cnt, sum, min, max, sum of squares exactly;
    avg as sum/cnt), or that are missing or unexpected, per tier."""
    con = _con()
    bad: dict[str, set[str]] = {}
    for tier, iv in TIER_SQL_INTERVAL.items():
        keep = "" if tier != "1m" else (
            "WHERE day IN (" + ", ".join(f"'{d}'" for d in sorted(stored_1m))
            + ")")
        rows = con.sql(f"""
        WITH e AS (
          SELECT * FROM (
            SELECT source,
                   CAST(epoch(time_bucket(INTERVAL '{iv}', ts)) AS BIGINT) AS w,
                   strftime(ts, '%Y-%m-%d') AS day,
                   count(*) AS cnt,
                   CAST(sum(n_tok) AS DOUBLE) AS s,
                   CAST(min(n_tok) AS DOUBLE) AS mn,
                   CAST(max(n_tok) AS DOUBLE) AS mx,
                   CAST(sum(n_tok * n_tok) AS DOUBLE) AS ss
            FROM {_raw_sql(raw_paths)}
            GROUP BY source, w, day) {keep}
        ),
        a AS (
          SELECT source, CAST(epoch(window_start) AS BIGINT) AS w,
                 CAST(part_key AS VARCHAR) AS day, cnt, sum_n_tok AS s,
                 min_n_tok AS mn, max_n_tok AS mx, sum_sq_n_tok AS ss,
                 avg_n_tok AS avg
          FROM {_tier_sql(base, tier)}
        )
        SELECT coalesce(e.day, a.day) AS day
        FROM e FULL OUTER JOIN a ON e.source = a.source AND e.w = a.w
        WHERE e.w IS NULL OR a.w IS NULL OR e.day <> a.day
           OR e.cnt <> a.cnt OR e.s <> a.s OR e.mn <> a.mn OR e.mx <> a.mx
           OR e.ss <> a.ss OR a.avg <> a.s / a.cnt
        GROUP BY 1
        """).fetchall()
        if rows:
            bad[tier] = {r[0] for r in rows}
    return bad


def digest_mismatches(base: str, raw_paths: list[str]) -> dict[str, int]:
    """Per tier, windows whose digest endpoints differ from min/max; for the
    1m tier also windows with cnt <= K whose digest is not the sorted
    sample of their values."""
    con = _con()
    out = {}
    for tier in TIER_SQL_INTERVAL:
        n = con.sql(f"""
        SELECT count(*) FROM {_tier_sql(base, tier)}
        WHERE qdigest[1] <> min_n_tok OR qdigest[len(qdigest)] <> max_n_tok
        """).fetchone()[0]
        if tier == "1m":
            n += con.sql(f"""
            WITH e AS (
              SELECT source,
                     CAST(epoch(time_bucket(INTERVAL '1 minute', ts)) AS BIGINT) AS w,
                     list_sort(list(CAST(n_tok AS DOUBLE))) AS vals
              FROM {_raw_sql(raw_paths)} GROUP BY 1, 2
            )
            SELECT count(*) FROM {_tier_sql(base, "1m")} a
            JOIN e ON e.source = a.source
                  AND e.w = CAST(epoch(a.window_start) AS BIGINT)
            WHERE a.cnt <= {K} AND a.qdigest <> e.vals
            """).fetchone()[0]
        if n:
            out[tier] = int(n)
    return out


class PackedTruth:
    """What a decoded Gorilla series of one (source, day) should hold: the
    1m tier's ``(window_start, avg_n_tok)`` as DuckDB computes it from the
    raw rows and the late batches the pass applied ("fresh"), or from the
    raw rows alone ("as built"). ``refresh_engine`` does not re-pack
    tier_1m_gorilla, so after a late batch the packed series of the days it
    touched stay as built: a series is "ok" if it equals the fresh one,
    "stale" if it differs from it but equals the as-built one, and "bad"
    otherwise."""

    def __init__(self, raw_path: str, late_paths: list[str]):
        self.fresh = self._series([raw_path] + late_paths)
        self.built = self._series([raw_path]) if late_paths else self.fresh

    @staticmethod
    def _series(paths: list[str]) -> dict:
        con = _con()
        df = con.sql(f"""
          SELECT source, strftime(w, '%Y-%m-%d') AS day,
                 CAST(epoch(w) AS BIGINT) AS ts, s / cnt AS avg
          FROM (SELECT source, time_bucket(INTERVAL '1 minute', ts) AS w,
                       CAST(sum(n_tok) AS DOUBLE) AS s, count(*) AS cnt
                FROM {_raw_sql(paths)} GROUP BY 1, 2)
          ORDER BY source, day, ts
        """).df()
        return {k: (g["ts"].to_numpy(np.int64),
                    g["avg"].to_numpy(np.float64).view(np.int64))
                for k, g in df.groupby(["source", "day"])}

    def classify(self, source: str, day: str, ts, vals) -> str:
        got = (np.asarray(ts, np.int64),
               np.asarray(vals, np.float64).view(np.int64))

        def same(want) -> bool:
            return (want is not None and len(got[0]) == len(want[0])
                    and np.array_equal(got[0], want[0])
                    and np.array_equal(got[1], want[1]))

        if same(self.fresh.get((source, day))):
            return "ok"
        return "stale" if same(self.built.get((source, day))) else "bad"


def gorilla_blobs(base: str, truth: PackedTruth) -> dict[str, int]:
    """Count the packed (source, day) blobs by ``PackedTruth.classify`` of
    their decoded points, bit for bit. Every packed day is checked,
    including 1m days retention expired (it does not expire the packed
    table)."""
    packed = ds.dataset(f"{base}/tier_1m_gorilla", format="parquet",
                        partitioning="hive").to_table().to_pandas()
    out = {"ok": 0, "stale": 0, "bad": 0}
    for row in packed.itertuples():
        day = pd.Timestamp(row.chunk_start).strftime("%Y-%m-%d")
        ts, vals = gorilla.decode_series(bytes(row.blob))
        kind = truth.classify(row.source, day, ts, vals)
        if len(ts) != row.n_points:
            kind = "bad"
        out[kind] += 1
    return out


def checkpoint_mismatches(base: str) -> int:
    """Partitions whose latest 'done' checkpoint record's rows_out differs
    from the rows the tier holds for that partition."""
    latest: dict[tuple[str, str], dict] = {}
    with open(f"{base}/checkpoint.jsonl") as f:
        for line in f:
            r = json.loads(line)
            if r["tier"] in TIER_SQL_INTERVAL:
                latest[(r["tier"], r["partition"])] = r
    con = _con()
    bad = 0
    for tier in TIER_SQL_INTERVAL:
        held = dict(con.sql(f"""
          SELECT CAST(part_key AS VARCHAR), count(*)
          FROM {_tier_sql(base, tier)} GROUP BY 1""").fetchall())
        for (t, part), r in latest.items():
            if t == tier and r["status"] == "done":
                bad += held.get(part, 0) != r["rows_out"]
    return bad


def position_stats_ok(pdf: pd.DataFrame, raw_path: str) -> bool:
    con = _con()
    want = con.sql(f"""
      SELECT source, CAST(pos - 1 AS INTEGER) AS pos, count(*) AS cnt,
             CAST(sum(tok) AS DOUBLE) AS sum_tok, min(tok) AS min_tok,
             max(tok) AS max_tok
      FROM (SELECT source, unnest(tokens) AS tok,
                   unnest(range(1, len(tokens) + 1)) AS pos
            FROM read_parquet('{raw_path}'))
      GROUP BY 1, 2 ORDER BY 1, 2
    """).df()
    got = pdf.sort_values(["source", "pos"]).reset_index(drop=True)
    cols = ["source", "pos", "cnt", "sum_tok", "min_tok", "max_tok"]
    return (len(got) == len(want)
            and all(np.array_equal(got[c].to_numpy(), want[c].to_numpy())
                    for c in cols)
            and np.array_equal(got["avg_tok"].to_numpy(),
                               (got["sum_tok"] / got["cnt"]).to_numpy()))


def gapfill_view_ok(obs: dict, raw_path: str, stored_1m: set[str]) -> bool:
    """The gap-filled view of the 1m tier as built (before any late batch)
    holds one row per source per minute between the source's first and
    last window, and its observed rows carry exactly the raw counts."""
    days = ", ".join(f"'{d}'" for d in sorted(stored_1m))
    con = _con()
    want = con.sql(f"""
      WITH w AS (
        SELECT source, epoch(time_bucket(INTERVAL '1 minute', ts)) AS w,
               count(*) AS c
        FROM read_parquet('{raw_path}')
        WHERE strftime(ts, '%Y-%m-%d') IN ({days}) GROUP BY 1, 2)
      SELECT sum(n), sum(obs), sum(c) FROM (
        SELECT source, (max(w) - min(w)) / 60 + 1 AS n, count(*) AS obs,
               sum(c) AS c
        FROM w GROUP BY source)
    """).fetchone()
    return (obs["rows"] == want[0] and obs["rows"] - obs["gaps"] == want[1]
            and obs["cnt"] == want[2])


def read_ok(r) -> bool:
    """Invariants of one serve read's result (``unpack_day`` reads are
    checked exactly, by ``unpack_kind``)."""
    out = r.out
    if len(out) == 0:
        return False
    if r.op == "day_quantiles":
        return bool(((out["min_n_tok"] <= out["p50"])
                     & (out["p50"] <= out["max_n_tok"])).all())
    if r.op == "gapfill_ma":
        steps = np.diff(out.sort_values("window_start")["window_start"]
                        .to_numpy("datetime64[s]").astype(np.int64))
        return bool((steps == 60).all()
                    and out["avg_n_tok_moving_average"].notna().all())
    if r.op == "segments_1h":
        return bool(out["output"].map(len).eq(4).all())
    if r.op == "m4_1m":
        return bool(((out["v_min"] <= out[["v_first", "v_last"]].min(axis=1))
                     & (out[["v_first", "v_last"]].max(axis=1) <= out["v_max"])
                     ).all())
    return False


def unpack_kind(r, truth: PackedTruth) -> str:
    """``PackedTruth.classify`` of one ``unpack_day`` read's points, in the
    order the read returned them."""
    out = r.out
    if len(out) == 0 or (out["source"] != r.source).any():
        return "bad"
    ts = out["window_start"].to_numpy("datetime64[s]").astype(np.int64)
    return truth.classify(r.source, r.day, ts, out["avg_n_tok"].to_numpy())


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(np.asarray(v).tolist())
                              if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_datetime64_any_dtype(df[c].dtype):
            df[c] = df[c].astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(df[c].dtype):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def registry_failures(results: dict, reg_dir: str) -> list[str]:
    """Names of registry queries whose output differs from the DuckDB twin,
    or, without a twin, came back empty."""
    con = _con()
    for t in REGISTRY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{reg_dir}/{t}.parquet'")
    bad = []
    for name, (_b, _e, got) in results.items():
        if name not in ORACLES:
            if len(got) == 0:
                bad.append(name)
            continue
        want = con.sql(ORACLES[name]).df()
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            bad.append(name)
            continue
        g, w = _norm(got), _norm(want)
        try:
            pd.testing.assert_frame_equal(g, w, check_dtype=True,
                                          check_exact=True)
        except AssertionError:
            bad.append(name)
            continue
        if any(g[c].dtype.kind == "f"
               and (np.signbit(g[c].to_numpy()) != np.signbit(w[c].to_numpy())).any()
               for c in g.columns):
            bad.append(name)
    return bad


def plant_wrong_tier_value(base: str) -> str:
    """Add 1 to ``cnt`` in the first row of one 1h partition file, so the
    tier check has a wrong stored aggregate to catch."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = sorted(glob.glob(f"{base}/tier_1h/*/*.parquet"))[0]
    table = pq.read_table(path)
    cnt = table.column("cnt").to_numpy().copy()
    cnt[0] += 1
    table = table.set_column(table.schema.get_field_index("cnt"), "cnt",
                             pc.cast(cnt, table.schema.field("cnt").type))
    pq.write_table(table, path)
    return os.path.dirname(path)
