"""The benchmark workloads.

Each workload writes its seeded inputs, runs a timed pass that is fully
materialized through its real sink, runs the same pass with spans
around the calls into each layer, runs isolated passes for the layers
one pass cannot separate, and checks the last pass's output.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from vision_parse_spark import ExtractConfig, extract, extract_pandas
from vision_parse_spark.functions.scrub import scrub_pii
from vision_parse_spark.operators import curation, dedup, pipeline
from vision_parse_spark.operators.curation import curate, quality_e4_col
from vision_parse_spark.operators.dedup import minhash_lsh_pairs
from vision_parse_spark.operators.repetition import repetition_stats
from vision_parse_spark.schema import TRANSCRIPT_SCHEMA
from vision_parse_spark.sinks.merge import merge_write, read_merged, verify_lineage
from vision_parse_spark.sources.readers import read_transcripts

from . import inputs
from .reference import curate_reference
from .tracing import TracedKernel, self_times

SAMPLE_ROWS = 96  # rows re-extracted on the driver to check the extract output


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _timed(tracer, name: str, fn, times: dict):
    """Run ``fn`` in a span named ``name``; append its duration to
    ``times[name]`` and return its result."""
    with tracer.span(name) as rec:
        res = fn()
    times.setdefault(name, []).append(rec["end"] - rec["start"])
    return res


class Workload:
    """Scratch layout and output directories shared by the workloads."""

    def __init__(self, tmp: str, seed: int, rows: int, cores: int):
        self.seed, self.rows, self.cores = seed, rows, cores
        self.in_path = os.path.join(tmp, "input")
        # the set-ups' warm-up input: as many rows as the timed input,
        # from disjoint ids, so the timed passes start on a JVM and
        # Python workers warmed at full size
        self.warm_path = os.path.join(tmp, "warm")
        self.out_root = os.path.join(tmp, "out")
        self.last_out: str | None = None

    def _fresh_dest(self, tag: str) -> str:
        """A new output directory; the previous pass's is removed."""
        if self.last_out and os.path.isdir(self.last_out):
            shutil.rmtree(self.last_out)
        self.last_out = os.path.join(self.out_root, tag)
        return self.last_out


class ExtractImaged(Workload):
    """Transcripts with image regions as URLs, one input file per core,
    ``extract()`` written through the exactly-once MERGE sink.

    One file per core, not the one file of a typical increment: one
    scan split runs the image kernel on a single core, and on a shared
    host one core's speed swings more between runs than the mean over
    all cores does."""

    name = "extract_imaged"
    cfg = ExtractConfig(image_mode="url")

    def __init__(self, tmp: str, seed: int, rows: int, cores: int):
        super().__init__(tmp, seed, rows, cores)
        self.pdf = inputs.write_transcripts(seed, rows, self.in_path, cores)
        inputs.write_transcripts(seed, rows, self.warm_path, cores,
                                 offset=inputs.WARM_OFFSET)
        self.sink_results: list[dict] = []

    def sizes(self) -> dict:
        start = self.seed * inputs.ID_STRIDE
        return {"rows": self.rows, "files": self.cores,
                "input_bytes": _parquet_bytes(self.in_path),
                "image_markers": int(self.pdf["text"].str.contains("[[PAGE_IMAGE",
                                                                   regex=False).sum()),
                "id_range": [start, start + self.rows]}

    def _merge(self, out, dest: str, rows: int) -> None:
        res = merge_write(out, dest)
        res["rows_expected"] = rows
        self.sink_results.append(res)

    def run_pass(self, spark, tag: str, warm: bool = False) -> float:
        dest = self._fresh_dest(tag)
        t0 = time.perf_counter()
        out = extract(read_transcripts(spark, self.warm_path if warm else self.in_path),
                      self.cfg)
        self._merge(out, dest, self.rows)
        return time.perf_counter() - t0

    def traced_pass(self, spark, tag: str, tracer, span_dir: str) -> dict:
        dest = self._fresh_dest(tag)
        with tracer.span("pass") as root:
            with tracer.span("sources.readers.read_transcripts"):
                df = read_transcripts(spark, self.in_path)
            sink_id = tracer.new_id()
            kernel = pipeline.extract_pandas
            pipeline.extract_pandas = TracedKernel(span_dir, sink_id, tracer.pass_id)
            try:
                with tracer.span("operators.pipeline.extract"):
                    out = extract(df, self.cfg)
            finally:
                pipeline.extract_pandas = kernel
            with tracer.span("sinks.merge.merge_write", span_id=sink_id):
                self._merge(out, dest, self.rows)
        return root

    def layer_metrics(self, spans: list[dict]) -> dict:
        """Per-layer metrics of one traced pass's spans."""
        st = self_times(spans)
        calls = [s for s in spans if s["name"] == "operators.images"]
        kernel = [s for s in spans if s["name"] == "operators.pipeline.extract_pandas"]
        text_rows = sum(s["text_rows"] for s in spans if s["name"] == "functions.classify")
        fmt_rows = sum(s["rows"] for s in spans if s["name"] == "functions.markdown")
        regions = sum(s["regions"] for s in calls)
        return {
            "images.busy_s": st.get("operators.images", 0.0),
            "images.calls": len(calls),
            "images.regions": regions,
            "images.regions_per_call": regions / len(calls) if calls else 0.0,
            "images.skipped": sum(s["skipped"] for s in calls),
            "classify.busy_s": st.get("functions.classify", 0.0),
            "markdown.busy_s": st.get("functions.markdown", 0.0),
            "markdown.fast_path_frac": 1 - fmt_rows / text_rows if text_rows else 0.0,
            "pipeline.kernel_s": sum(s["end"] - s["start"] for s in kernel),
            "pipeline.glue_s": st.get("operators.pipeline.extract_pandas", 0.0),
            "pipeline.merge_pass_s": sum(s["end"] - s["start"] for s in spans
                                         if s["name"] == "sinks.merge.merge_write"),
        }

    def isolated_layers(self, spark, tracer, repeats: int) -> dict:
        """Layers one pass cannot separate: the scan (noop write of the
        scan), Arrow serde (an identity ``mapInPandas`` over it, minus
        the scan) and the extraction into a noop sink."""
        cols = TRANSCRIPT_SCHEMA.fieldNames()

        def identity(batches):
            yield from batches

        def scan():
            return read_transcripts(spark, self.in_path).select(*cols)

        times: dict[str, list[float]] = {}
        for _ in range(repeats):
            _timed(tracer, "sources.scan", lambda: _noop(scan()), times)
            _timed(tracer, "serde.identity_map_in_pandas",
                   lambda: _noop(scan().mapInPandas(identity, schema=TRANSCRIPT_SCHEMA)),
                   times)
            _timed(tracer, "operators.pipeline.extract_to_noop",
                   lambda: _noop(extract(scan(), self.cfg)), times)
        scan_s = _median(times["sources.scan"])
        return {"sources.scan_s": scan_s,
                "serde.s": _median(times["serde.identity_map_in_pandas"]) - scan_s,
                "scan.partitions": scan().rdd.getNumPartitions(),
                "pipeline.noop_pass_s": _median(times["operators.pipeline.extract_to_noop"])}

    def run_metrics(self, values: dict, times: dict) -> dict:
        """The sink: the traced pass into ``merge_write`` minus the same
        extraction into a noop sink, the audit, and what it wrote."""
        return {"sinks.merge.write_s": values["pipeline.merge_pass_s"]
                - values["pipeline.noop_pass_s"],
                "sinks.merge.verify_s": _median(times["sinks.merge.verify_lineage"]),
                "sinks.merge.bytes": _parquet_bytes(self.last_out),
                "sinks.merge.buckets": len(self.sink_results[-1]["written"])}

    def check(self, spark, tracer, times: dict) -> tuple[bool, int, dict]:
        """The lineage audit passes; every input key comes out once; a
        seeded sample equals a driver-side ``extract_pandas`` run; every
        pass merged all its rows.  Returns ``(ok, error_rows, details)``."""
        verified = _timed(tracer, "sinks.merge.verify_lineage",
                          lambda: verify_lineage(spark, self.last_out), times)
        out = read_merged(spark, self.last_out).select(
            "conv_id", "turn_idx", "markdown", "status", "payload_kind").toPandas()
        keys_in = set(zip(self.pdf["conv_id"], self.pdf["turn_idx"].astype(int)))
        keys_out = list(zip(out["conv_id"], out["turn_idx"].astype(int)))
        rng = np.random.default_rng(self.seed)
        idx = np.sort(rng.choice(len(self.pdf), min(SAMPLE_ROWS, len(self.pdf)),
                                 replace=False))
        ref = extract_pandas(self.pdf.iloc[idx].reset_index(drop=True), self.cfg)
        ref = ref.set_index(["conv_id", "turn_idx"])
        got = out.set_index(["conv_id", "turn_idx"]).reindex(ref.index)
        cols = ["markdown", "status", "payload_kind"]
        errors = int((out["status"] == "error").sum())
        details = {
            "verify_lineage": bool(verified),
            "output_rows": len(out),
            "keys_once": len(keys_out) == len(set(keys_out)) and set(keys_out) == keys_in,
            "sample_rows": len(idx),
            "sample_equal": bool((got[cols].astype(object)
                                  == ref[cols].astype(object)).all().all()),
            "merged_all_rows": all(r["rows"] == r["rows_expected"]
                                   for r in self.sink_results),
            "error_rows": errors,
        }
        ok = all(details[k] for k in ("verify_lineage", "keys_once", "sample_equal",
                                      "merged_all_rows"))
        return ok, errors, details


class CurateDocs(Workload):
    """A (doc_id, text) corpus with seeded near-duplicates and PII,
    ``curate()`` written to parquet."""

    name = "curate_docs"
    # curate() stages a tracing wrapper replaces, by the name it calls them
    TRACED_CALLS = (
        (curation, "repetition_stats", "operators.repetition.repetition_stats"),
        (curation, "minhash_dedup", "operators.dedup.minhash_dedup"),
        (dedup, "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
        (curation, "scrub_pii", "functions.scrub.scrub_pii"),
    )

    def __init__(self, tmp: str, seed: int, rows: int, cores: int):
        super().__init__(tmp, seed, rows, cores)
        self.docs = inputs.gen_docs(seed, rows)
        inputs.write_docs(self.docs, self.in_path, cores)
        inputs.write_docs(inputs.gen_docs(seed, rows, inputs.WARM_OFFSET),
                          self.warm_path, cores)

    def sizes(self) -> dict:
        return {"rows": self.rows, "files": self.cores,
                "input_bytes": _parquet_bytes(self.in_path),
                "near_dups": int((self.docs["src_id"] != self.docs["doc_id"]).sum()),
                "id_range": [int(self.docs["doc_id"].min()),
                             int(self.docs["doc_id"].max()) + 1]}

    def run_pass(self, spark, tag: str, warm: bool = False) -> float:
        dest = self._fresh_dest(tag)
        t0 = time.perf_counter()
        curate(spark.read.parquet(self.warm_path if warm else self.in_path)) \
            .write.parquet(dest)
        return time.perf_counter() - t0

    def traced_pass(self, spark, tag: str, tracer, span_dir: str) -> dict:
        dest = self._fresh_dest(tag)
        with tracer.span("pass") as root:
            df = spark.read.parquet(self.in_path)
            with contextlib.ExitStack() as stack:
                for module, attr, name in self.TRACED_CALLS:
                    stack.enter_context(tracer.wrap(module, attr, name))
                with tracer.span("operators.curation.curate"):
                    out = curate(df)
            with tracer.span("sink.parquet"):
                out.write.parquet(dest)
        return root

    def layer_metrics(self, spans: list[dict]) -> dict:
        return {}

    @staticmethod
    def _quality_gate(df):
        """``curate``'s quality gate, built from the same public column."""
        n_tok = F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0))
        return df.filter(n_tok > 0).filter(quality_e4_col("text") >= 5000)

    def isolated_layers(self, spark, tracer, repeats: int) -> dict:
        """Each stage of the curation chain on its own, materialized."""
        times: dict[str, list[float]] = {}
        df = spark.read.parquet(self.in_path)
        for _ in range(repeats):
            _timed(tracer, "operators.curation.quality_gate",
                   lambda: _noop(self._quality_gate(df).select("doc_id")), times)
            _timed(tracer, "operators.repetition.repetition_stats",
                   lambda: _noop(repetition_stats(df)), times)
        rep_ok = repetition_stats(df).filter(
            (F.col("dup_line_frac") <= 0.3) & (F.col("top_bigram_frac") <= 0.2)
        ).select("doc_id")
        gated = (self._quality_gate(df).select("doc_id", "text")
                 .join(rep_ok, "doc_id", "left_semi").localCheckpoint(eager=True))
        n_gated = gated.count()
        for _ in range(repeats):
            pairs = _timed(tracer, "operators.dedup.minhash_lsh_pairs",
                           lambda: minhash_lsh_pairs(gated, rebalance=False).collect(),
                           times)
        losers = spark.createDataFrame([(int(r["id_b"]),) for r in pairs] or [(-1,)],
                                       "doc_id long")
        survivors = gated.join(losers, "doc_id", "left_anti").localCheckpoint(eager=True)
        n_surv = survivors.count()
        for _ in range(repeats):
            _timed(tracer, "functions.scrub.scrub_pii",
                   lambda: _noop(scrub_pii(survivors)), times)
        return {
            "curation.quality_gate_s": _median(times["operators.curation.quality_gate"]),
            "repetition.stats_s": _median(times["operators.repetition.repetition_stats"]),
            "dedup.lsh_pairs_s": _median(times["operators.dedup.minhash_lsh_pairs"]),
            "dedup.pairs": len(pairs),
            "dedup.dropped_frac": 1 - n_surv / n_gated if n_gated else 0.0,
            "scrub.s": _median(times["functions.scrub.scrub_pii"]),
            "scan.partitions": df.rdd.getNumPartitions(),
        }

    def run_metrics(self, values: dict, times: dict) -> dict:
        return {}

    def check(self, spark, tracer, times: dict) -> tuple[bool, int, dict]:
        """Survivors are input documents with distinct texts, and equal
        the driver-side reference: same ids, same scrubbed texts."""
        got = spark.read.parquet(self.last_out).toPandas()
        expected, n_gated = curate_reference(self.docs)
        got_ids = [int(i) for i in got["doc_id"]]
        details = {
            "survivors": len(got),
            "expected_survivors": len(expected),
            "gated": n_gated,
            "subset": set(got_ids) <= set(self.docs["doc_id"].astype(int)),
            "no_dup_text": not got["text"].duplicated().any(),
            "count_equal": len(got) == len(expected),
            "text_equal": dict(zip(got_ids, got["text"])) == expected,
        }
        ok = all(details[k] for k in ("subset", "no_dup_text", "count_equal", "text_equal"))
        return ok, 0, details


WORKLOADS = {w.name: w for w in (ExtractImaged, CurateDocs)}
