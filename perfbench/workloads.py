"""The benchmark's two workloads: their inputs' sizes, their operations, and
the check each operation's output must pass.

import_export is the source paper's own loop: a fresh import of a seeded
backup and an XML export of the store the generator built from it.
ElementTree, `finalize_import`'s eager actions, `toLocalIterator` and
sqlite3 do the work; `operators/` and `plans/` are idle.

lane_mix runs registry lanes in a seeded order on one set of seeded tables:
sixteen lanes of `plans.compat_queries` (querying.md's filter/LIKE/BETWEEN/
join/order surface, where Catalyst and job scheduling dominate), one lane
of each `operators/` module (executor CPU and shuffle dominate) and one
storage audit of `plans.storage_queries` (a partitioned parquet store).
`sources/` and `sinks/` are idle.

An operation is a callable that runs the program and returns a check of
its output plus side figures (messages seen or exported); the caller times
the call and runs the check afterwards, untimed.
"""

from __future__ import annotations

import json
import os
import traceback

# About 10% exact duplicates, 20% MMS. The import's time is mostly a fixed
# cost of its ~50 Spark jobs; 4k messages already collide in parts._id.
BACKUP_MESSAGES = 4_000
LANE_SF = 0.01  # lane_mix tables: lineitem = 60k rows

# Few lanes, so that a run (a JVM launch and one pass of lanes that each
# run for the first time in the process) stays under a minute: one pass
# took about 21 s on local[4]. Every layer of lane_mix has a lane.
COMPAT_LANES = (
    "q01_eq_filter_sort",
    "q02_like_prefix",
    "q03_like_contains",
    "q04_between_ts",
    "q05_conj_pred",
    "q07_flagship_join_like",
    "q09_in_list",
    "q10_dict_decode",
    "q11_coalesce_sentinel",
    "q12_base64_roundtrip",
    "q13_regex_strip",
    "q14_split_pick",
    "q17_epoch_millis",
    "q18_count_star",
    "q24_top_k",
    "q26_three_way_join",
)
OPERATOR_LANES = (
    "q46_simhash",  # operators.dedup
    "q98_semantic_dedup",  # operators.similarity
    "q88_dup_ngram_coverage",  # operators.ngrams
    "q105_bloom_prune",  # operators.sketches
    "q82_repetition_stats",  # operators.curation
)
STORAGE_LANES = ("q155_partitioned_prune_audit",)
# Run once, untimed, before the first pass: the first lane of a process
# pays the JVM's class loading and JIT of a query and a `toPandas`, the
# first operators lane 2-3 s more, and the seeded order would hand that cost
# to a different lane on every seed.
WARMUP_LANES = ("q01_eq_filter_sort", "q82_repetition_stats")


def lanes() -> list[str]:
    """lane_mix's lanes in fixed order."""
    return [*COMPAT_LANES, *OPERATOR_LANES, *STORAGE_LANES]


def lane_layer(lane: str) -> str:
    """The layer a lane's code lives in, named after its module."""
    from sms_db_spark.operators import curation, dedup, ngrams, similarity, sketches
    from sms_db_spark.plans import compat_queries, storage_queries

    for layer, mod in (
        ("plans.compat_queries", compat_queries),
        ("plans.storage_queries", storage_queries),
        ("operators.dedup", dedup),
        ("operators.similarity", similarity),
        ("operators.ngrams", ngrams),
        ("operators.sketches", sketches),
        ("operators.curation", curation),
    ):
        if lane in mod.QUERIES:
            return layer
    raise KeyError(lane)


def lane_problems(pdf, digest: dict) -> list[str]:
    """Problems with a lane's result against its oracle digest."""
    from tools.selfcheck import normalize, value_hash

    df = normalize(pdf)
    if len(df) != digest["rows"]:
        return [f"rows {len(df)}, oracle {digest['rows']}"]
    if list(df.columns) != digest["cols"]:
        return [f"columns {list(df.columns)}, oracle {digest['cols']}"]
    if value_hash(df) != digest["hash"]:
        return ["value hash differs from the oracle's"]
    return []


class LaneMix:
    def __init__(self, spark, tracer, work: str) -> None:
        from sms_db_spark.plans import registry

        self.spark, self.tracer = spark, tracer
        self.data = os.path.join(work, "tables")
        self.registry = registry()
        with open(os.path.join(work, "digests.json")) as fh:
            self.digests = json.load(fh)
        self.layers = {lane: lane_layer(lane) for lane in lanes()}

    def warmup(self) -> None:
        for lane in WARMUP_LANES:
            try:
                self.registry[lane].fn(self.spark, self.data).toPandas()
            except Exception:  # the timed run of the lane records the failure
                traceback.print_exc()

    def ops(self, rng) -> list:
        order = lanes()
        rng.shuffle(order)
        return [(lane, self._op(lane)) for lane in order]

    def _op(self, lane: str):
        def run():
            with self.tracer.span(self.layers[lane], lane) as frames:
                df = self.registry[lane].fn(self.spark, self.data)
                frames.append(df)
                pdf = df.toPandas()
            return (lambda: lane_problems(pdf, self.digests[lane])), {}

        return run


class ImportExport:
    """The operations in a fixed order: like a CLI invocation, the first
    one pays the process's cold start, on every seed the same one."""

    def __init__(self, spark, tracer, work: str) -> None:
        from perfbench import backup

        self.spark, self.tracer, self.work = spark, tracer, work
        self.store_a = backup.read_store(os.path.join(work, "store_a.db"))
        with open(os.path.join(work, "inputs.json")) as fh:
            self.seen = json.load(fh)

    def warmup(self) -> None:
        pass

    def ops(self, rng) -> list:
        return [("import_fresh", self.import_fresh), ("export", self.export)]

    def _out(self, name: str) -> str:
        path = os.path.join(self.work, name)
        if os.path.exists(path):
            os.remove(path)
        return path

    def import_fresh(self):
        from perfbench import backup
        from sms_db_spark.sinks.sqlite_sink import write_store_sqlite
        from sms_db_spark.sources.canonical import finalize_import
        from sms_db_spark.sources.xml_source import normalize_xml, read_xml_staging

        op, span = "import_fresh", self.tracer.span
        out = self._out("out_a.db")
        with span(op, op):
            with span("sources.xml_source", op) as frames:
                staged = normalize_xml(*read_xml_staging(self.spark, os.path.join(self.work, "a.xml")))
                frames.extend(staged)
            with span("sources.canonical", op) as frames:
                result = finalize_import(*staged)
                frames.extend((result.messages, result.parts))
            with span("sinks.sqlite_sink", op):
                write_store_sqlite(result.messages, result.parts, out)
        return (lambda: backup.check_store(out, self.store_a)), {"msgs": self.seen["a.xml"]}

    def export(self):
        from perfbench import backup
        from sms_db_spark.sinks.sqlite_sink import read_store_sqlite
        from sms_db_spark.sinks.xml_export import export_xml

        out = self._out("export.xml")
        with self.tracer.span("export", "export"):
            with self.tracer.span("sinks.sqlite_sink", "export"):
                msgs, parts = read_store_sqlite(self.spark, os.path.join(self.work, "store_a.db"))
            with self.tracer.span("sinks.xml_export", "export"):
                count = export_xml(msgs, parts, out)
        return (lambda: backup.check_export(out, self.store_a, count)), {"exported": count}


WORKLOADS = {"import_export": ImportExport, "lane_mix": LaneMix}
