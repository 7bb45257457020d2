"""The three workloads. Each prepares its seeded inputs, runs one
operation at a time (the timed part) and checks what that operation
produced (untimed, with no second execution of the operation).

Operations are grouped into rounds for warm-up: one batch, one drain,
or one pass over the query list.
"""

from __future__ import annotations

import math
import os

import duckdb

from chicago_crash_data_pipeline_dashboard_spark import schemas
from chicago_crash_data_pipeline_dashboard_spark.operators.clean import clean_crashes
from chicago_crash_data_pipeline_dashboard_spark.operators.gold import GoldTable
from chicago_crash_data_pipeline_dashboard_spark.operators.transform import silver_transform
from chicago_crash_data_pipeline_dashboard_spark.plans import analytics, crash_ops  # noqa: F401  (registers)
from chicago_crash_data_pipeline_dashboard_spark.plans.registry import QUERIES
from chicago_crash_data_pipeline_dashboard_spark.sources.bronze import read_bronze, write_bronze
from chicago_crash_data_pipeline_dashboard_spark.sources.silver import read_silver_csv, write_silver_csv
from chicago_crash_data_pipeline_dashboard_spark.streaming import ingest as ingest_mod
from chicago_crash_data_pipeline_dashboard_spark.streaming.watermark import WatermarkStore
from tests.oracle_harness import canonicalize, duckdb_run

import gen

GOLD_COLS = [f.name for f in schemas.GOLD_CRASHES.fields if f.name not in ("corr_id", "inserted_at", "updated_at")]
_DOUBLE_COLS = {
    f.name for f in schemas.GOLD_CRASHES.fields if f.dataType.typeName() == "double"
}


def _files_and_bytes(path: str, suffix: str = "", corr: str | None = None) -> tuple[int, int]:
    """Data files (and their bytes) under ``path``; with ``corr``, only
    those under a ``corr=<corr>`` partition directory."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        if corr is not None and not root.endswith(f"corr={corr}"):
            continue
        for f in files:
            if f.endswith(suffix) and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class _GoldOracle:
    """DuckDB side of the gold checks: the expected cleaned rows of one
    input (``_CLEAN_ORACLE`` over its events) against the gold rows an
    operation wrote under one ``corr_id``."""

    def __init__(self, gold_path: str):
        self.gold_path = gold_path
        self.con = duckdb.connect()
        self.con.execute("SET threads=2")
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute("CREATE TABLE seen (crash_record_id VARCHAR PRIMARY KEY)")

    def expected(self, events_path: str) -> None:
        """Load the oracle's cleaned rows for ``events_path`` into ``exp``."""
        self.con.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM '{events_path}'")
        self.con.execute(f"CREATE OR REPLACE TABLE exp AS {crash_ops._CLEAN_ORACLE}")

    def count(self, where: str = "TRUE") -> int:
        return self.con.execute(f"SELECT count(*) FROM exp WHERE {where}").fetchone()[0]

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def compare_new(self, corr_ids: list[str], where: str = "TRUE") -> tuple[int, int, int]:
        """(expected new rows, gold rows written, mismatching rows) for
        the rows of ``exp`` passing ``where`` whose key is not yet in gold;
        then records those keys as seen."""
        ids = ",".join(f"'{c}'" for c in corr_ids) or "''"
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE want AS
                SELECT * FROM exp WHERE {where} AND crash_record_id IS NOT NULL
                AND crash_record_id NOT IN (SELECT crash_record_id FROM seen)"""
        )
        self.con.execute(
            f"""CREATE OR REPLACE TEMP TABLE got AS
                SELECT {', '.join(GOLD_COLS)} FROM read_parquet('{self.gold_path}/*.parquet')
                WHERE corr_id IN ({ids})"""
        )
        diff = " OR ".join(
            f"(w.{c} IS NULL) <> (g.{c} IS NULL) OR abs(w.{c} - g.{c}) > 1e-9 * greatest(1, abs(w.{c}))"
            if c in _DOUBLE_COLS
            else f"w.{c} IS DISTINCT FROM g.{c}"
            for c in GOLD_COLS
            if c != "crash_record_id"
        )
        bad = self.scalar(
            f"""SELECT count(*) FROM want w FULL OUTER JOIN got g USING (crash_record_id)
                WHERE w.crash_record_id IS NULL OR g.crash_record_id IS NULL OR {diff}"""
        )
        n_want, n_got = self.scalar("SELECT count(*) FROM want"), self.scalar("SELECT count(*) FROM got")
        self.con.execute("INSERT OR IGNORE INTO seen SELECT crash_record_id FROM want")
        return n_want, n_got, bad

    def close(self) -> None:
        self.con.close()


class IngestBatches:
    """One op: one new bronze batch through write_bronze -> read_bronze ->
    silver_transform + write_silver_csv -> read_silver_csv ->
    clean_crashes -> GoldTable.upsert into a growing gold table."""

    name = "ingest_batches"

    def __init__(self, rows: int, first_rows: int, rounds: int):
        self.sizes = gen.IngestSizes(batches=rounds, rows=rows, first_rows=first_rows)

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.meta = gen.write_ingest_inputs(f"{work}/inputs", seed, self.sizes)
        self.next = 0
        return gen.sizes_record(self.sizes)

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.gold = GoldTable(spark, f"{self.work}/gold")
        self.oracle = _GoldOracle(f"{self.work}/gold")
        self.total = 0
        self.facts: list[dict] = []

    def run_round(self):
        m = self.meta[self.next]
        self.next += 1
        return [("batch", lambda: self._op(m))]

    def _op(self, m: dict) -> dict:
        spark, span, corr = self.spark, self.tracer.span, m["corr"]
        bronze, silver_dir = f"{self.work}/bronze", f"{self.work}/silver"
        with span("sources.bronze.write"):
            write_bronze(spark.read.parquet(f"{m['dir']}/crashes.parquet"), bronze, "crashes", corr=corr)
        with span("sources.bronze.read"):
            crashes = read_bronze(spark, bronze, "crashes", schemas.BRONZE_CRASHES, corr=corr).select(
                *schemas.CRASH_COLUMNS
            )
        with span("operators.transform.build"):
            silver = silver_transform(
                crashes,
                spark.read.parquet(f"{m['dir']}/vehicles.parquet"),
                spark.read.parquet(f"{m['dir']}/people.parquet"),
            )
        with span("sources.silver.write"):
            write_silver_csv(silver, silver_dir, corr=corr)
        with span("sources.silver.read"):
            silver_rt = read_silver_csv(spark, silver_dir, corr=corr, schema=silver.schema)
        with span("operators.clean.call"):
            cleaned = clean_crashes(silver_rt)
        with span("operators.gold.upsert"):
            stats = self.gold.upsert(cleaned, corr_id=corr)
        return stats

    def check(self, kind: str, stats: dict) -> tuple[bool, str]:
        m = self.meta[self.next - 1]
        self.oracle.expected(f"{m['dir']}/events.parquet")
        n_clean = self.oracle.count()
        want, got, bad = self.oracle.compare_new([m["corr"]])
        bronze_files, bronze_bytes = _files_and_bytes(f"{self.work}/bronze/crashes", ".json.gz", m["corr"])
        silver_files, silver_bytes = _files_and_bytes(f"{self.work}/silver/corr={m['corr']}", ".csv")
        gold_files, _ = _files_and_bytes(self.gold.path, ".parquet")
        self.facts.append(
            {
                "rows_in": m["crashes"],
                "rows_out": stats["inserted"] + stats["skipped"],
                "inserted": stats["inserted"],
                "existing_rows": stats["before_count"],
                "bronze_files": bronze_files,
                "bronze_bytes": bronze_bytes,
                "silver_bytes": silver_bytes,
                "gold_files": gold_files,
            }
        )
        checks = {
            "before_count": stats["before_count"] == self.total,
            "inserted": stats["inserted"] == want,
            "cleaned_rows": stats["inserted"] + stats["skipped"] == n_clean,
            "gold_rows": got == want and bad == 0,
            "silver_written": silver_files > 0,
        }
        self.total += want
        failed = [k for k, ok in checks.items() if not ok]
        return not failed, f"batch {m['corr']}: want {want} got {got} bad {bad} failed {failed}"

    def finish(self) -> tuple[bool, str, dict]:
        with self.tracer.span("operators.gold.integrity") as s:
            integ = self.gold.verify_integrity()
        ok = integ["ok"] == 1 and integ["total"] == self.total
        self.oracle.close()
        return ok, f"integrity {integ} expected total {self.total}", {"integrity_span": s}


class StreamDrains:
    """One op: one ``stream_bronze_to_gold(mode="streaming")`` drain over a
    file set landed (by rename, untimed) just before the drain."""

    name = "stream_drains"

    def __init__(self, rows: int, rounds: int):
        self.sizes = gen.StreamSizes(sets=rounds, rows=rows)

    def prepare(self, work: str, seed: int) -> dict:
        self.work = work
        self.meta = gen.write_stream_inputs(f"{work}/inputs", seed, self.sizes)
        self.next = 0
        return gen.sizes_record(self.sizes)

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.bronze = f"{self.work}/bronze"
        self.args = dict(
            spark=spark,
            bronze_dir=self.bronze,
            alias="crashes",
            schema=schemas.BRONZE_CRASHES,
            gold_path=f"{self.work}/gold",
            checkpoint_dir=f"{self.work}/ckpt",
            watermark_path=f"{self.work}/wm.json",
            mode="streaming",
        )
        self.wm = WatermarkStore(self.args["watermark_path"])
        self.oracle = _GoldOracle(self.args["gold_path"])
        self.batch_ids = 0
        self.total = 0
        self.facts: list[dict] = []

    def _land(self, m: dict) -> None:
        for year in m["years"]:
            src = f"{m['dir']}/land/year={year}/corr={m['corr']}"
            dst = f"{self.bronze}/crashes/year={year}"
            os.makedirs(dst, exist_ok=True)
            os.rename(src, f"{dst}/corr={m['corr']}")

    def run_round(self):
        m = self.meta[self.next]
        self.next += 1
        self._land(m)
        self.wm_before = self.wm.get()
        return [("drain", self._drain)]

    def _drain(self) -> list[dict]:
        t = self.tracer
        with t.span("streaming.ingest.drain"), t.wrapping(ingest_mod, "clean_crashes", "operators.clean.call"), \
                t.wrapping(ingest_mod.GoldTable, "upsert", "operators.gold.upsert"):
            return ingest_mod.stream_bronze_to_gold(**self.args)

    def check(self, kind: str, stats: list[dict]) -> tuple[bool, str]:
        m = self.meta[self.next - 1]
        self.oracle.expected(f"{m['dir']}/events.parquet")
        on_time = "TRUE" if self.wm_before is None else f"crash_date > DATE '{self.wm_before}'"
        n_clean = self.oracle.count()
        corr_ids = [f"stream-{self.batch_ids + i}" for i in range(len(stats))]
        self.batch_ids += len(stats)
        want, got, bad = self.oracle.compare_new(corr_ids, on_time)
        max_date = self.oracle.scalar(f"SELECT CAST(max(crash_date) AS VARCHAR) FROM exp WHERE {on_time}")
        late = ",".join(f"'CR{i:08d}'" for i in m["late_ids"]) or "''"
        late_in_gold = self.oracle.scalar(
            f"SELECT count(*) FROM read_parquet('{self.args['gold_path']}/*.parquet') "
            f"WHERE crash_record_id IN ({late})"
        )
        inserted = sum(s["inserted"] for s in stats)
        rows_upserted = sum(s["inserted"] + s["skipped"] for s in stats)
        self.facts.append(
            {
                "rows_in": m["rows"],
                "rows_out": n_clean,
                "late_dropped": n_clean - rows_upserted,
                "micro_batches": len(stats),
                "inserted": inserted,
                "existing_rows": stats[0]["before_count"] if stats else self.total,
                "gold_files": _files_and_bytes(self.args["gold_path"], ".parquet")[0],
            }
        )
        checks = {
            "one_micro_batch": len(stats) == 1,
            "inserted": inserted == want,
            "gold_rows": got == want and bad == 0,
            "watermark_at_max": self.wm.get() == max_date,
            "late_not_inserted": late_in_gold == 0,
        }
        self.total += want
        failed = [k for k, ok in checks.items() if not ok]
        return not failed, f"drain {m['corr']}: want {want} got {got} bad {bad} failed {failed}"

    def finish(self) -> tuple[bool, str, dict]:
        t = self.tracer
        wm = self.wm.get()
        with t.span("streaming.ingest.zero_drain") as zs:
            stats = ingest_mod.stream_bronze_to_gold(**self.args)
        with t.span("operators.gold.integrity") as s:
            integ = GoldTable(self.spark, self.args["gold_path"]).verify_integrity()
        ok = not stats and self.wm.get() == wm and integ["ok"] == 1 and integ["total"] == self.total
        self.oracle.close()
        return ok, f"zero drain batches {len(stats)}; integrity {integ} expected {self.total}", {
            "integrity_span": s,
            "zero_drain_span": zs,
        }


QUERY_MIX = (
    "quantiles",
    "revenue_by_nation",
    "event_sessions",
    "crash_hit_run_rate_by_weather",
    "pricing_summary",
)


class QueryMix:
    """One op: one registered query, ``QUERIES[name].fn`` then ``collect``,
    over seeded tables shaped like sf0.1. A round is one pass over
    ``QUERY_MIX``."""

    name = "query_mix"

    def __init__(self, rows_scale: float, first_rows_scale: float, rounds: int):
        del rounds  # the same tables serve every pass
        self.sizes = gen.QuerySizes(rows_scale=rows_scale, first_rows_scale=first_rows_scale)

    def prepare(self, work: str, seed: int) -> dict:
        self.dirs = [f"{work}/tables_first", f"{work}/tables"]
        gen.write_query_tables(self.dirs[0], seed, self.sizes.first_rows_scale)
        counts = gen.write_query_tables(self.dirs[1], seed, self.sizes.rows_scale)
        self.passes = 0
        self.expected: dict[tuple[str, str], tuple] = {}
        return {**gen.sizes_record(self.sizes), "rows": counts}

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer
        self.facts: list[dict] = []

    def run_round(self):
        self.dir = self.dirs[min(self.passes, 1)]
        self.passes += 1
        return [(q, lambda q=q: self._op(q)) for q in QUERY_MIX]

    def _op(self, name: str):
        t = self.tracer
        spec = QUERIES[name]
        module = spec.fn.__module__.rsplit(".", 1)[-1]
        with t.wrapping(crash_ops, "clean_crashes", "operators.clean.call"):
            with t.span("plans.build", query=name, module=module):
                df = spec.fn(self.spark, self.dir)
            with t.span("plans.collect", query=name, module=module):
                rows = df.collect()
        return df.columns, [tuple(r) for r in rows]

    def check(self, kind: str, result) -> tuple[bool, str]:
        cols, rows = result
        key = (self.dir, kind)
        if key not in self.expected:
            self.expected[key] = canonicalize(*duckdb_run(QUERIES[kind].oracle, self.dir))
        ok, msg = _same(canonicalize(cols, rows), self.expected[key])
        fact = {"query": kind, "rows": len(rows)}
        if kind == "crash_hit_run_rate_by_weather":
            fact["clean_rows_out"] = sum(r[cols.index("n_crashes")] for r in rows)
            fact["clean_rows_in"] = duckdb_run("SELECT count(*) FROM events", self.dir)[1][0][0]
        self.facts.append(fact)
        return ok, f"{kind}: {msg}"

    def finish(self) -> tuple[bool, str, dict]:
        return True, f"{self.passes} passes", {}


def _same(spark_side, oracle_side, tol: float = 1e-9) -> tuple[bool, str]:
    """The oracle harness's comparison rule, on rows already collected."""
    (sc, sr), (dc, dr) = spark_side, oracle_side
    if sc != dc:
        return False, f"column mismatch: spark={sc} duckdb={dc}"
    if len(sr) != len(dr):
        return False, f"row count mismatch: spark={len(sr)} duckdb={len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        for j, (x, y) in enumerate(zip(a, b)):
            if x == y or (
                isinstance(x, float) and isinstance(y, float) and math.isclose(x, y, rel_tol=tol, abs_tol=tol)
            ):
                continue
            return False, f"value mismatch row {i} col {sc[j]}: spark={x!r} duckdb={y!r}"
    return True, f"ok ({len(sr)} rows)"
