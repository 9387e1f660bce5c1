"""The benchmark's workloads, composed from the library's public calls.

Each workload has a ``setup`` (make the seeded input and materialize it) and
a ``run_pass`` that returns ``(ok, detail)``. ``rec`` is a
:class:`perfbench.recorder.Recorder`; untraced runs pass one whose spans are
only the pass boundaries, traced runs get a span per layer. Lazy layers are
charged to the span that forces them; ``LAZY_NOTES`` records where.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from nospa_rdf_data_cube_validator_spark.functions.extraction import extract_mentions
from nospa_rdf_data_cube_validator_spark.functions.linking import (
    alias_edges,
    canonicalize,
    link_mentions,
    resolve_aliases,
    surface_dict,
)
from nospa_rdf_data_cube_validator_spark.operators.normalize import normalize
from nospa_rdf_data_cube_validator_spark.operators.validate import CubeValidator
from nospa_rdf_data_cube_validator_spark.pipeline import StageRunner, edges_to_graph, run_pipeline
from nospa_rdf_data_cube_validator_spark.plans.algebra import TripleStore
from nospa_rdf_data_cube_validator_spark.plans.encoding import (
    EncodedTripleStore,
    build_dictionary,
    encode_triples,
)
from nospa_rdf_data_cube_validator_spark.report import write_validation_report
from nospa_rdf_data_cube_validator_spark.sources.rdf import read_ntriples
from nospa_rdf_data_cube_validator_spark.sources.transcripts import (
    read_transcripts,
    synth_transcripts,
)

from .cubegen import build_cube
from .kgoracle import expected_kg

LAZY_NOTES = {
    "rdf_read": "read_ntriples is lazy; parsing runs in the normalize span's localCheckpoint",
    "atrest_write": "includes normalize() and the EncodedTripleStore vocabulary lookup, which it forces",
    "validate": "CubeValidator() plus validate_all(): the eager metadata pass; IC plans run in validate.icN",
}

# run_pipeline's default bucket count (main.py pipeline does not override it)
BUCKETS = 32
# normalize() adds to the KG cube: qb:componentProperty for each of its four
# component specs, rdf:type for its three dimensions and its one measure
KG_NORMALIZED_EXTRA = 8


def _parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


class KgPipeline:
    """``main.py pipeline`` up to the validated store: run_pipeline's seven
    snapshot stages, then the normalized cube written as the subj-bucketed
    at-rest table. The 21-IC validation is left to cube_small (see NOTES.md)."""

    name = "kg_pipeline"

    def __init__(self, spark: SparkSession, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        # the seed moves the input size by < 3 %; the triple count it
        # determines is checked against kgoracle on every pass
        self.params = dict(n_convs=100 + seed % 4, base_turns=8, hot_convs=2, hot_turns=100)
        self.expected = expected_kg(**self.params)
        self.n_pass = 0

    def setup(self, rec) -> None:
        path = os.path.join(self.workdir, "transcripts")
        with rec.span("transcripts"):
            synth_transcripts(self.spark, **self.params).write.parquet(path)
        self.transcripts = read_transcripts(self.spark, path)

    def run_pass(self, rec, traced: bool) -> tuple[bool, str]:
        wd = os.path.join(self.workdir, f"kg_pass{self.n_pass}")
        self.n_pass += 1
        if traced:
            runner = self._traced_stages(rec, wd)
        else:
            res = run_pipeline(self.spark, self.transcripts, wd, validate=False)
            store = normalize(EncodedTripleStore(res["triples_encoded"], res["term_dict"]))
            runner = StageRunner(self.spark, wd)  # after run_pipeline: it loads the committed manifest
            runner.run_table("cube_atrest", lambda: store.df, buckets=BUCKETS)
        stages = runner.manifest["stages"]
        n = self.expected["triples"]
        want = {"transcripts": self.expected["turns"], "triples": n, "triples_encoded": n,
                "cube_atrest": n + KG_NORMALIZED_EXTRA}
        got = {s: stages[s]["rows"] for s in want}
        return got == want, f"manifest rows {got}, expected {want}"

    def _traced_stages(self, rec, wd: str) -> StageRunner:
        """run_pipeline's calls in its order, one span per layer."""
        spark = self.spark
        runner = StageRunner(spark, wd)
        with rec.span("transcripts") as sp:
            tdf = runner.run("transcripts", lambda: self.transcripts)
            sp.attrs["rows"] = runner.manifest["stages"]["transcripts"]["rows"]
        with rec.span("extraction"):
            mentions = runner.run("mentions", lambda: extract_mentions(tdf))
        with rec.span("linking"):
            dictionary = surface_dict(spark)
            linked = runner.run("linked", lambda: link_mentions(mentions, dictionary))
        with rec.span("canonicalize"):
            alias_map = resolve_aliases(alias_edges(spark))
            canonical = runner.run("canonical", lambda: canonicalize(linked, alias_map))
        with rec.span("construct"):
            triples = runner.run("triples", lambda: edges_to_graph(spark, canonical))
        with rec.span("dictionary"):
            term_dict = runner.run("term_dict", lambda: build_dictionary(triples))
        with rec.span("encode"):
            enc = runner.run("triples_encoded", lambda: encode_triples(triples, term_dict))
        with rec.span("atrest_write", note=LAZY_NOTES["atrest_write"]):
            store = normalize(EncodedTripleStore(enc, term_dict))
            runner.run_table("cube_atrest", lambda: store.df, buckets=BUCKETS)
        return runner


class CubeSmall:
    """``main.py validate`` on a W3C-example-sized cube with planted
    violations: read_ntriples -> normalize -> localCheckpoint ->
    validate_all -> write_validation_report (markdown + parquet)."""

    name = "cube_small"

    def __init__(self, spark: SparkSession, workdir: str, seed: int):
        self.spark = spark
        self.workdir = workdir
        self.seed = seed
        self.n_pass = 0

    def setup(self, rec) -> None:
        with rec.span("cube_gen"):
            cube = build_cube(self.seed)
            self.path = os.path.join(self.workdir, "cube.nt")
            with open(self.path, "w", encoding="utf-8") as fh:
                fh.write(cube.text())
            self.ledger = cube.ledger

    def run_pass(self, rec, traced: bool) -> tuple[bool, str]:
        report = os.path.join(self.workdir, f"report{self.n_pass}")
        self.n_pass += 1
        os.makedirs(report)
        parquet_dir = os.path.join(report, "violations")
        if traced:
            with rec.span("rdf_read", note=LAZY_NOTES["rdf_read"]):
                triples = read_ntriples(self.spark, self.path)
            with rec.span("normalize"):
                store = normalize(TripleStore(triples))
                store.df = store.df.localCheckpoint(eager=True)
            with rec.span("validate", note=LAZY_NOTES["validate"]):
                v = CubeValidator(store)
                violations = v.validate_all()
            for name, df in violations.items():
                with rec.span(f"validate.{name}"):
                    write_validation_report(
                        {name: df}, md_path=os.path.join(report, f"{name}.md"), parquet_dir=parquet_dir
                    )
            v.unpersist()
        else:
            store = normalize(TripleStore(read_ntriples(self.spark, self.path)))
            store.df = store.df.localCheckpoint(eager=True)
            with CubeValidator(store) as v:
                write_validation_report(v.validate_all(), md_path=report, parquet_dir=parquet_dir)
        got = {ic: _parquet_rows(os.path.join(parquet_dir, ic)) for ic in self.ledger}
        bad = {ic: (n, self.ledger[ic]) for ic, n in got.items() if n != self.ledger[ic]}
        return not bad, f"ledger mismatches (got, want): {bad}" if bad else "ledger matched"


WORKLOADS = {w.name: w for w in (KgPipeline, CubeSmall)}
