"""The benchmark workloads: inputs, one pass of operations, output checks.

Each workload is a closed loop with one client: operations run one after
another on one Spark session, and a pass is one full round of them.

- ``ingest``: the telemetry ETL as users run it — a ``Pipeline`` of
  ``BinaryPacketExtractor`` → ``DecomTransformer`` →
  ``CalibrationTransformer`` → ``ParquetLoader`` over seeded CCSDS files;
  an operation is one Pipeline batch.
- ``query_mix``: the 25 headline declared queries plus the shard-build
  capstone (extract → gate → MinHash near-dedup → UniMax → pack → JSONL
  shards → read-back) in one fixed order, each materialized to Arrow on
  the driver and checked against its DuckDB oracle; an operation is one
  query.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import hashlib
import math
import os
import re
import shutil
import tempfile
import time
from dataclasses import dataclass, field

import datagen

#: The 25 headline queries (the same list as ``bench.py``'s HEADLINE).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_nation_revenue",
    "j1_broadcast_dim_join",
    "agg_distinct_by_group",
    "rollup_flag_status",
    "d3_pivot_wide",
    "s2_unpivot_melt",
    "w_rank_orders_by_priority",
    "w1_tumbling_window",
    "w4_sessionization",
    "asof_join_latest_purchase",
    "range_join_event_pairs",
    "agg_percentiles",
    "time_bucket_rollup",
    "x6_json_extract_agg",
    "d4_union_all",
    "x1_dedup_exact_hash",
    "x2_minhash_bands",
    "x3_lsh_topk_ann",
    "x3_ivf_topk_ann",
    "x2_ngram_jaccard_pairs",
    "x3_cosine_topk_bruteforce",
    "x4_token_stats",
    "x5_multimodal_payload_meta",
]
CAPSTONE = "curation_shard_build_e2e"


# -- result digests ---------------------------------------------------------


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, (str, int)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return int(v) if v.is_integer() and abs(v) < 2**63 else v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return repr(v)


def digest(table) -> str:
    """Order-insensitive digest of an Arrow table: columns by name, rows
    sorted, numbers compared by value (1 == 1.0) as the oracle check in
    ``scripts/check_correctness.py`` compares them."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(repr(tuple(_norm(c[i]) for c in cols)) for i in range(table.num_rows))
    h = hashlib.sha256(repr(names).encode())
    for r in rows:
        h.update(r.encode())
    return h.hexdigest()


def _materialized(sql: str) -> str:
    """Evaluate every CTE once: the same result, but DuckDB no longer
    re-runs a CTE per reference (the capstone oracle drops from minutes
    to well under a second)."""
    sql = re.sub(r"(\bWITH\s+)(\w+)\s+AS\s+\(", r"\1\2 AS MATERIALIZED (", sql,
                 flags=re.IGNORECASE)
    return re.sub(r"(,\s*)(\w+)\s+AS\s+\(", r"\1\2 AS MATERIALIZED (", sql)


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    import duckdb

    from mission_data_pipeline_spark.plans.queries import QUERIES
    from mission_data_pipeline_spark.sources.tables import TABLES

    con = duckdb.connect()
    con.execute("SET threads = 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return {
        n: digest(con.execute(_materialized(QUERIES[n].oracle)).fetch_arrow_table())
        for n in names
    }


# -- shared shapes ------------------------------------------------------------


@dataclass
class Op:
    name: str
    wall_s: float
    ok: bool
    span: object = None


@dataclass
class Pass:
    wall_s: float
    items: float
    ops: list[Op] = field(default_factory=list)
    stored_bytes: int = 0


def _materialize(build, tracer=None):
    """Build one query and materialize it to Arrow; traced, the build and
    Catalyst's planning phases get spans under the open operation span."""
    if tracer is None:
        return build().toArrow()
    op = tracer._stack[-1]
    with tracer.span("plans.build", "plans", depth=1) as b:
        df = build()
    tracer.bump("plans.build_s", b.end - b.start)
    tracer.phases(df, op)
    return df.toArrow()


class QueryMix:
    """The 25 headline queries plus the shard-build capstone, whose
    parquet stage barriers, lineage checkpoint and JSONL shard sink are
    the only writes and checkpoints among the queries run here. Tables
    are sf0.01-sized (60,000 lineitem rows, 500 documents): fixed
    per-query cost dominates."""

    name = "query_mix"
    item_unit = "queries"
    #: Nominal pass length: 25-60 s on a 4-core shared host.
    pass_s = 30.0
    sf = 0.01
    n_documents = 500
    names = HEADLINE + [CAPSTONE]

    def prepare(self, root: str, seed: int) -> dict:
        self.dir = os.path.join(root, "tables")
        shutil.rmtree(self.dir, ignore_errors=True)
        rows = datagen.write_tables(self.dir, seed, self.sf, self.n_documents)
        self.input_rows = sum(rows.values())
        self.input_bytes = sum(
            os.path.getsize(p) for p in glob.glob(f"{self.dir}/*.parquet")
        )
        return {"input_sha256": datagen.sha256_files(
            sorted(glob.glob(f"{self.dir}/*.parquet")))}

    #: Run once before the measured pass: an interactive session has its
    #: Python workers up. Without it the first queries of every pass ran
    #: 2-3x slow (Python worker start and imports). A full warm-up pass
    #: would cost ~35 s, beyond this benchmark's time budget.
    warm_query = "x3_lsh_topk_ann"

    def warm_up(self, spark) -> None:
        """The oracle digests, then the warm-up query."""
        from mission_data_pipeline_spark.plans.queries import QUERIES, register_views

        self.oracle = oracle_digests(self.dir, self.names)
        register_views(spark, self.dir, force=True)
        QUERIES[self.warm_query].spark(spark, self.dir).toArrow()

    def scan_only(self, spark) -> None:
        for p in sorted(glob.glob(f"{self.dir}/*.parquet")):
            spark.read.parquet(p).write.mode("overwrite").format("noop").save()

    def run_pass(self, spark, seed: int, k: int, tracer=None) -> Pass:
        from mission_data_pipeline_spark.plans.queries import QUERIES

        ops = []
        # One fixed order: the first ~10 queries of a pass still run
        # 1.1-1.4x slower than later in the pass (JIT warm-up), and a
        # seeded order moved that penalty onto different queries in
        # every run, which doubled the spread of op_p50_s (0.17 vs the
        # 0.06 of wall_s over ten seeds).
        for name in self.names:
            ok, span = False, None
            group = f"pb:{name}:{k}"
            spark.sparkContext.setJobGroup(group, name, False)
            build = lambda: QUERIES[name].spark(spark, self.dir)  # noqa: E731
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    table = _materialize(build)
                else:
                    sql0 = tracer.sql_count()
                    with tracer.span(f"op.{name}", "driver", depth=0) as span:
                        table = _materialize(build, tracer)
                wall = time.perf_counter() - t0
                ok = digest(table) == self.oracle[name]
                if not ok:
                    print(f"  op {name}: output does not match its oracle")
            except Exception as exc:  # noqa: BLE001 - a failed op is data
                wall = time.perf_counter() - t0
                print(f"  op {name} failed: {type(exc).__name__}: {str(exc)[:300]}")
            finally:
                spark.sparkContext._jsc.clearJobGroup()
            if tracer is not None and span is not None:
                tracer.harvest(span, [group], sql0)
            ops.append(Op(name, wall, ok, span))
        # Back-to-back operations: the pass wall is their sum, without
        # the output checks and trace harvesting between them.
        p = Pass(sum(o.wall_s for o in ops), float(len(ops)), ops)
        # What the queries' sinks left: each query's scratch directory
        # (the capstone's parquet barriers and JSONL shards) holds its
        # last invocation's output.
        p.stored_bytes = _tree_bytes(glob.glob(f"{tempfile.gettempdir()}/mdps_scratch_*"))
        return p


def _tree_bytes(roots: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for r in roots for d, _, files in os.walk(r) for f in files
    )


# -- ingest -------------------------------------------------------------------


class Ingest:
    """The paper's ETL through ``core/pipeline.py`` and the stage classes."""

    name = "ingest"
    item_unit = "calibrated rows"
    #: Nominal pass length: 9-20 s on a 4-core shared host.
    pass_s = 10.0
    # Two batches keep a run inside the time budget; a batch costs ~7 s
    # almost regardless of its size (25,000 or 50,000 packets).
    n_files = 2
    packets_per_file = 50_000
    files_per_batch = 1

    def prepare(self, root: str, seed: int) -> dict:
        self.root = root
        self.dir = os.path.join(root, "packets")
        shutil.rmtree(self.dir, ignore_errors=True)
        self.ref = datagen.write_packet_files(
            self.dir, seed, self.n_files, self.packets_per_file
        )
        self.input_rows = self.ref["packets"]
        self.input_bytes = sum(os.path.getsize(p) for p in self.ref["paths"])
        return {"input_sha256": datagen.sha256_files(self.ref["paths"])}

    def _pipeline(self, name: str, paths: list[str], out_dir: str, tracer):
        from mission_data_pipeline_spark.core.pipeline import Pipeline, PipelineConfig
        from mission_data_pipeline_spark.stages import (
            BinaryPacketExtractor,
            CalibrationTransformer,
            DecomTransformer,
            ParquetLoader,
        )

        bench = self

        class TimedExtractor(BinaryPacketExtractor):
            """Marks batch boundaries: a batch runs from the request for
            it to the request for the next one."""

            def extract(self, spark):
                bench._marks = [time.perf_counter()]
                for batch in super().extract(spark):
                    yield batch
                    bench._marks.append(time.perf_counter())

        class TracedLoader(ParquetLoader):
            def load(self, batch):
                if tracer is None:
                    return super().load(batch)
                with tracer.span("core.loader", "core", depth=1):
                    return super().load(batch)

        params = [
            {"name": n, "apid": a, "byte_offset": o, "bit_length": b, "param_type": t}
            for n, a, o, b, t in datagen.PARAMETERS
        ]
        cals = [
            {"parameter": p, "method": m, "coefficients": c, "table_raw": xs,
             "table_eng": ys, "unit": u}
            for p, m, c, xs, ys, u in datagen.CALIBRATIONS
        ]
        return Pipeline(
            PipelineConfig(name=name),
            extractor=TimedExtractor({
                "path": paths, "sec_hdr_length": 4,
                "files_per_batch": self.files_per_batch,
            }),
            transformers=[
                DecomTransformer({"parameters": params}),
                CalibrationTransformer({"calibrations": cals}),
            ],
            loader=TracedLoader({"output_dir": out_dir}),
        )

    def warm_up(self, spark) -> None:
        """One small pipeline run. The session's first jobs pay ~15 s of
        one-off costs (JVM class loading and JIT, Python worker start);
        left in the pass, they made the first batch 3x the others and
        the pass wall twice as noisy."""
        small = datagen.write_packet_files(
            os.path.join(self.root, "warm-in"), 0, 1, 2_000
        )
        out = os.path.join(self.root, "warm")
        self._pipeline("warm", small["paths"], out, None).run(spark)

    def scan_only(self, spark) -> None:
        from mission_data_pipeline_spark.sources import read_packets

        read_packets(spark, self.ref["paths"], sec_hdr_length=4).write.mode(
            "overwrite").format("noop").save()

    def run_pass(self, spark, seed: int, k: int, tracer=None) -> Pass:
        out = os.path.join(self.root, "out")
        shutil.rmtree(out, ignore_errors=True)
        name = f"ingest{k}"
        pipe = self._pipeline(name, self.ref["paths"], out, tracer)
        sql0 = tracer.sql_count() if tracer else 0
        t0 = time.perf_counter()
        result = pipe.run(spark)
        wall = time.perf_counter() - t0
        marks = self._marks
        ok = result.ok and self._check(out, result)
        ops = [
            Op(f"batch{i + 1}", b - a, ok)
            for i, (a, b) in enumerate(zip(marks, marks[1:]))
        ]
        if tracer is not None:
            self._trace(tracer, name, marks, result, sql0)
            ops = [Op(o.name, o.wall_s, o.ok, s) for o, s in zip(ops, self._op_spans)]
        p = Pass(wall, float(sum(self.ref["rows"].values())), ops)
        p.stored_bytes = sum(
            os.path.getsize(f)
            for f in glob.glob(f"{out}/**/*.parquet", recursive=True)
        )
        return p

    def _trace(self, tracer, name: str, marks: list[float], result, sql0: int) -> None:
        """Batch spans after the fact (the Pipeline owns the loop): wall
        clock from the extractor's marks, jobs from the batch job groups."""
        off = time.time() - time.perf_counter()
        loaders = [s for s in tracer.spans if s.name == "core.loader" and s.parent is None]
        self._op_spans = []
        for i, (a, b) in enumerate(zip(marks, marks[1:])):
            op = tracer.add(f"op.batch{i + 1}", "driver", 0, a + off, b + off, None)
            for s in loaders:
                if op.start <= s.start <= op.end:
                    s.parent = op.id
            self._op_spans.append(op)
        t0 = time.perf_counter()
        nodes = tracer.sql_nodes(sql0)
        for i, op in enumerate(self._op_spans):
            tracer.harvest_jobs(op, [f"mdps:{name}:batch{i + 1}"], nodes)
        tracer.count_nodes(nodes)
        tracer.bump("trace.bookkeeping_s", time.perf_counter() - t0)
        loader_s = sum(
            r.elapsed_s for r in result.stage_results if r.stage_name == "TracedLoader"
        )
        tracer.bump("core.loader_s", loader_s)
        tracer.bump("core.batches", len(self._op_spans))

    def _check(self, out: str, result) -> bool:
        """Row count and per-parameter eng_value sums against the numpy
        reference built from the same seeded values."""
        import pyarrow.dataset as ds

        loaded = sum(
            r.records_out for r in result.stage_results if r.stage_name == "TracedLoader"
        )
        expect_rows = sum(self.ref["rows"].values())
        if loaded != expect_rows:
            print(f"  ingest: loader wrote {loaded} rows, expected {expect_rows}")
            return False
        t = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["name", "eng_value"]
        )
        got_rows: dict[str, int] = {}
        got_sum: dict[str, float] = {}
        names = t.column("name").to_pylist()
        vals = t.column("eng_value").to_numpy(zero_copy_only=False)
        import numpy as np

        for n in set(names):
            sel = np.array(names) == n
            got_rows[n] = int(sel.sum())
            got_sum[n] = float(np.sum(vals[sel]))
        for n, rows in self.ref["rows"].items():
            exp = self.ref["eng_sums"][n]
            got = got_sum.get(n, math.nan)
            if got_rows.get(n) != rows or not math.isclose(got, exp, rel_tol=1e-9,
                                                           abs_tol=1e-6):
                print(f"  ingest: {n}: {got_rows.get(n)} rows sum {got!r}, "
                      f"expected {rows} rows sum {exp!r}")
                return False
        return True


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
