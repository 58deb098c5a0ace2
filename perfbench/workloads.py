"""The benchmark's workloads. Each one makes its inputs from the seed
(``prepare``) and runs one pass through the engine's public functions
(``run_pass``), one op after another, under the harness's op and layer
spans.

``creator_etl`` is the paper's pipeline over generated creator documents.
``catalog_mix`` runs batch and streaming catalog ops on the fixed sf0.1
tables in a seed-chosen order; another catalog workload is one more
entry in ``CATALOG_WORKLOADS`` and its ops' fingerprints.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil

from perfbench import creators

SF_DIR = "/root/testdata/sf0.1"
AS_OF = dt.datetime(2025, 9, 7)
N_CREATORS = 80


class CreatorEtl:
    """Load users and posts, build the report, write analyzed JSON,
    per-creator text files and the wide CSV (PAPER.md §0 stages 2-3)."""

    name = "creator_etl"
    ops = ("ingest", "report", "write")

    def prepare(self, h) -> None:
        self.input_dir = os.path.join(h.work_dir, "creators")
        self.expected, self.records = creators.generate(
            self.input_dir, N_CREATORS, h.seed, AS_OF)

    def run_pass(self, h, k: int) -> None:
        from ig_etl_with_user_reports_2024_spark.plans import creator_report as cr
        from ig_etl_with_user_reports_2024_spark.plans import wide_csv

        out = os.path.join(h.work_dir, f"out{k}")
        state = {}

        def ingest():
            with h.layer("sources.load_users"):
                state["users"] = cr.load_users(h.spark, f"{self.input_dir}/*/userInfo.json")
            with h.layer("sources.load_posts"):
                state["posts"] = cr.load_posts(h.spark, f"{self.input_dir}/*/postInfo.json")

        def report():
            with h.layer("plans.creator_report"):
                state["report"] = cr.creator_report(
                    h.spark, state["users"], state["posts"], as_of=AS_OF)

        def write():
            rep = state["report"]
            with h.layer("write.analyzed_json"):
                cr.write_analyzed_json(rep, f"{out}/json")
            with h.layer("write.txt"):
                cr.write_txt_reports(rep, f"{out}/txt")
            with h.layer("write.wide_csv"):
                with h.layer("plans.flatten_report"):
                    flat = wide_csv.flatten_report(rep)
                wide_csv.sanitize_and_write(flat, f"{out}/csv")

        def check(_):
            h.output_bytes += _tree_bytes(out)
            rows = creators.read_json_lines(f"{out}/json")
            return (creators.check_report(rows, self.expected)
                    + creators.check_files(f"{out}/csv", f"{out}/txt",
                                           wide_csv.HEADERS, self.expected))

        # a step whose input an earlier step failed to make raises
        # KeyError, so it counts as failed rather than vanishing
        h.op("ingest", ingest)
        h.op("report", report)
        h.op("write", write, check=check,
             cleanup=lambda: shutil.rmtree(out, ignore_errors=True))


class CatalogWorkload:
    """Registered catalog ops on the fixed sf0.1 tables. The seed picks
    the op order; each op's output is checked against the fingerprint of
    its DuckDB oracle."""

    def __init__(self, name: str, ops: dict[str, tuple[str, ...]]):
        self.name = name
        self.ops = tuple(ops)
        self.tables = ops  # op -> the sf0.1 tables it reads

    def prepare(self, h) -> None:
        import pyarrow.parquet as pq

        from perfbench.fingerprint import load_expected

        for path in [SF_DIR] + [f"{SF_DIR}/{t}.parquet" for ts in self.tables.values() for t in ts]:
            if not os.path.exists(path):
                raise FileNotFoundError(f"benchmark input missing: {path}")
        expected = load_expected()
        missing = [op for op in self.ops if op not in expected]
        if missing:
            raise KeyError(f"no expected fingerprint for {missing}; run perfbench/fingerprint.py")
        self.expected = {op: expected[op] for op in self.ops}
        self.order = list(self.ops)
        random.Random(h.seed).shuffle(self.order)
        rows = {t: pq.read_metadata(f"{SF_DIR}/{t}.parquet").num_rows
                for ts in self.tables.values() for t in ts}
        self.records = sum(rows[t] for op in self.ops for t in self.tables[op])

    def run_pass(self, h, k: int) -> None:
        import __spark_entry__ as entry_mod
        from ig_etl_with_user_reports_2024_spark.operators.dedup import release_eager_pins

        queries = entry_mod.queries()
        for name in self.order:
            views = _temp_views(h.spark)

            def run(name=name):
                with h.layer("plans.query_fn"):
                    df = queries[name](h.spark, SF_DIR)
                with h.layer("noop_write"):
                    df.write.format("noop").mode("overwrite").save()
                return df

            def check(df, name=name):
                from perfbench.fingerprint import fingerprint

                got, want = fingerprint(df.toPandas()), self.expected[name]
                return [] if got == want else [f"{name}: {got} != oracle {want}"]

            def cleanup(views=views):
                release_eager_pins()
                for v in _temp_views(h.spark) - views:
                    h.spark.catalog.dropTempView(v)

            h.op(name, run, check=check, cleanup=cleanup)


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


CATALOG_WORKLOADS = {
    # batch ops (noop sink) and streaming ops (AvailableNow into memory
    # sinks); one workload, so a run pays for one session start
    "catalog_mix": CatalogWorkload("catalog_mix", {
        "dd13_semantic_keep_list": ("embeddings",),
        "dq1_column_profile": ("orders",),
        "tok1_subword_token_count": ("documents",),
        "st5_stateful_sessions": ("events",),
        "st11_rocksdb_dedup": ("events",),
        "st13_streaming_expectation_drift": ("events",),
    }),
}


def get(name: str):
    if name == CreatorEtl.name:
        return CreatorEtl()
    if name in CATALOG_WORKLOADS:
        return CATALOG_WORKLOADS[name]
    raise KeyError(f"unknown workload {name!r}")


NAMES = (CreatorEtl.name, *CATALOG_WORKLOADS)
