"""The benchmark's workloads: one timed repetition each, its preparation
and output check, and its traced variant with the untimed warm-up that
precedes it.

``facts``      ``pipeline.build_kg`` with its four outputs written, in turn,
               to Spark's ``noop`` sink: the in-memory operator path.
``warehouse``  ``io.tables.ResumableKGWriter(n_buckets=4).run()`` then
               ``finalize_graph()`` into an empty parquet warehouse.
"""

from __future__ import annotations

import glob
import os
import shutil

from .digest import from_row, spark_aggregates, spark_digest

FACTS_OUTPUTS = ("linked_mentions", "triples", "nodes", "edges")
CHECKED = ("triples", "nodes", "edges")
N_BUCKETS = 4


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def build_memos(spark, corpus_dir: str) -> None:
    """Build every session-scoped dimension memo: ``build_kg``'s only jobs
    are those builds. Both workloads read the dimensions from the same
    files, so they hit the same memo entries."""
    from memex_kg_spark import pipeline
    pipeline.build_kg(spark, corpus_dir)


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(path, "**", "*.parquet"), recursive=True))


class Facts:
    """The check rides on the timed repetition: ``df.observe`` folds the
    digest aggregates of triples, nodes and edges into the sink writes'
    own jobs (a per-row SHA-256 over ~10^5 rows, well under 1% of the
    repetition), because recomputing the unpersisted outputs to check them
    would cost a second repetition."""

    def __init__(self, spark, corpus_dir: str, work_dir: str):
        self.spark, self.corpus_dir = spark, corpus_dir
        self.observed: dict = {}

    def warm_up(self) -> None:
        """The ``triples`` write, whose stages every later output
        re-derives."""
        from memex_kg_spark import pipeline
        _noop(pipeline.build_kg(self.spark, self.corpus_dir)["triples"])

    def prepare(self) -> None:
        self.observed = {}

    def rep(self, tracer=None) -> None:
        """``tracer`` puts each sink write in a ``sink.<output>`` span."""
        from contextlib import nullcontext

        from pyspark.sql import Observation

        from memex_kg_spark import pipeline
        kg = pipeline.build_kg(self.spark, self.corpus_dir)
        for name in FACTS_OUTPUTS:
            df = kg[name]
            if name in CHECKED:
                obs = self.observed[name] = Observation()
                df = df.observe(obs, *spark_aggregates(df, name))
            with tracer.span(f"sink.{name}") if tracer else nullcontext():
                _noop(df)

    def check(self) -> dict:
        return {t: from_row(self.observed[t].get) for t in CHECKED}

    def written_bytes(self) -> int:
        return 0  # every output goes to the noop sink

    def traced(self, tracer) -> tuple[dict, float]:
        """The timed repetition with one span per sink write, then each
        layer materialised once from its persisted inputs, which gives the
        layer's own cost. Returns row counts for the ledger and the sink
        writes' traced wall."""
        from memex_kg_spark import pipeline
        from memex_kg_spark.operators import canonicalize, extraction, linking

        self.prepare()
        with tracer.span("facts.sink") as sink:
            self.rep(tracer)
        self.spark.catalog.clearCache()

        d = pipeline.load_synth(self.spark, self.corpus_dir)
        alias, preds = d["alias_dim"], d["pred_dim"]
        steps = (
            ("extraction.statements", "statements",
             lambda o: extraction.extract_statements(d["transcripts"])),
            ("extraction.mentions", "mentions",
             lambda o: extraction.statements_to_mentions(
                 o["statements"], alias)),
            ("linking.link", "linked",
             lambda o: linking.link_mentions(o["mentions"], alias)),
            ("pipeline.triples", "triples",
             lambda o: pipeline.triples_from_statements(
                 o["statements"], alias, preds)),
            ("canonicalize.nodes", "nodes",
             lambda o: canonicalize.build_nodes(o["triples"], alias)),
            ("canonicalize.edges", "edges",
             lambda o: canonicalize.build_edges(
                 o["triples"], o["nodes"], preds)),
        )
        out, rows = {}, {}
        for span, key, build in steps:
            with tracer.span(span):
                out[key] = build(out).persist()
                _noop(out[key])
            rows[span] = out[key]
        with tracer.span("trace.count"):
            rows = {k: v.count() for k, v in rows.items()}
            rows["statement_triples"] = pipeline.statement_triples(
                out["statements"], alias, preds).count()
            rows["claim_triples"] = pipeline.claim_triples(
                out["statements"], alias).count()
        self.spark.catalog.clearCache()
        return rows, sink.end - sink.start


class Warehouse:
    """Each repetition writes into a fresh, empty warehouse directory; the
    check reads the three tables back."""

    def __init__(self, spark, corpus_dir: str, work_dir: str):
        self.spark, self.corpus_dir = spark, corpus_dir
        self.out = os.path.join(work_dir, "warehouse")

    def _writer(self):
        from memex_kg_spark.io.tables import ResumableKGWriter
        return ResumableKGWriter(self.spark, self.corpus_dir, self.out,
                                 n_buckets=N_BUCKETS)

    def warm_up(self) -> None:
        """One bucket, committed: the writer's own crash hook
        (``run(fail_after=1)``) stops it after the first commit."""
        self.prepare()
        w = self._writer()
        try:
            w.run(fail_after=1)
        except RuntimeError as e:
            if "simulated crash" not in str(e):
                raise

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def rep(self) -> None:
        w = self._writer()
        w.run()
        w.finalize_graph()

    def check(self) -> dict:
        read = self.spark.read.parquet
        frames = {
            "triples": read(os.path.join(self.out, "triples"))
            .drop("bucket"),
            "nodes": read(os.path.join(self.out, "nodes")),
            "edges": read(os.path.join(self.out, "edges")),
        }
        return {t: spark_digest(frames[t], t) for t in CHECKED}

    def written_bytes(self) -> int:
        return sum(_parquet_bytes(os.path.join(self.out, t))
                   for t in CHECKED)

    def traced(self, tracer) -> tuple[dict, float]:
        """The timed repetition with spans around the writer's public
        methods and the engine functions they call. Bucket jobs run on the
        writer's thread pool, so each bucket span names the run span as
        its parent."""
        from memex_kg_spark import pipeline
        from memex_kg_spark.io import tables
        from memex_kg_spark.operators import extraction

        self.prepare()
        w = self._writer()
        inner, bucket_rows = w.process_bucket, []
        patches = [
            (extraction, "extract_statements", "extraction.statements"),
            (pipeline, "triples_from_statements", "pipeline.triples"),
            (tables, "build_nodes", "canonicalize.nodes"),
            (tables, "build_edges", "canonicalize.edges"),
        ]
        saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
        for mod, attr, span in patches:
            setattr(mod, attr, tracer.wrap(span, getattr(mod, attr)))
        try:
            with tracer.span("tables.commit") as sp:
                def bucket(b):
                    with tracer.span("tables.bucket", sp):
                        res = inner(b)
                    bucket_rows.append(res[1])
                    return res

                w.process_bucket = bucket
                res = w.run()
            with tracer.span("tables.finalize") as fin:
                w.finalize_graph()
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)
        read = self.spark.read.parquet
        rows = {"tables.bucket": sum(bucket_rows),
                "tables.commit": res["processed"],
                "tables.finalize": sum(
                    read(os.path.join(self.out, t)).count()
                    for t in ("nodes", "edges"))}
        return rows, fin.end - sp.start
