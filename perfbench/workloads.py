"""The two workloads: ``extract_web`` and ``extract_resume``.

A workload builds its inputs (``build_inputs``, pure Python, no Spark),
prepares Spark-side state (``prepare``), then runs one timed operation at
a time (``op``). ``check`` verifies an operation's output outside the
timed region. ``layers`` turns the status-store trace of a traced
operation into ``<module>.<metric>`` numbers.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import contextmanager

import inputs
from stores import MB, GroupTrace

from pyspark.sql import functions as F

from crawspark.checkpoint import CheckpointedExtraction
from crawspark.operators.extract import extract_documents
from crawspark.oracle.extract import extract_document
from crawspark.sources.tables import ParquetBackend

CHECK_SAMPLE = 100
REPLAY_SAMPLE = 2000


def _stage_layers(trace: GroupTrace, wall: float, docs: int,
                  oracle_doc_ms: float) -> dict[str, float]:
    """Layer numbers every workload has: the op's jobs, its heaviest stage
    (the extraction stage), the Python hop and the scan."""
    ex = trace.heaviest()
    sql = trace.sql
    ex_run = ex.run_s if ex else 0.0
    return {
        "op.jobs": len(trace.job_ids),
        "op.stages": len(trace.stages),
        "op.driver_s": wall - trace.jobs_wall(),
        "op.exec_run_s": trace.total("run_s"),
        "op.spill_mb": trace.total("spill_bytes") / MB,
        "extract.run_s": ex_run,
        "extract.cpu_s": ex.cpu_s if ex else 0.0,
        "extract.py_sent_mb": sql.get("data sent to Python workers", 0.0) / MB,
        "extract.py_recv_mb": sql.get("data returned from Python workers", 0.0) / MB,
        "extract.py_run_s": sql.get("time to run Python workers", 0.0),
        "extract.hop_overhead_s": ex_run - oracle_doc_ms / 1000 * docs,
        "partitioning.task_skew": ex.skew if ex else 0.0,
        "partitioning.extract_tasks": ex.tasks if ex else 0,
        "sources.scan_mb": sql.get("size of files read", 0.0) / MB,
        "sources.scan_tasks": sum(s.tasks for s in trace.stages if s.input_bytes),
        "sources.single_task_stages": sum(1 for s in trace.stages if s.tasks == 1),
    }


class ExtractWeb:
    """Heavy-tailed multilingual web corpus → ``extract_documents`` → noop."""

    name = "extract_web"
    n_docs = 2000
    min_ops = 3

    def __init__(self, seed: int, work: str, n_files: int):
        self.seed = seed
        self.path = os.path.join(work, "web")
        self.n_files = n_files
        self.docs: list[dict] = []

    def build_inputs(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        self.docs = inputs.web_corpus(self.seed, self.n_docs)
        inputs.write_parquet(self.docs, self.path, self.n_files)
        rng = random.Random(f"sample-{self.seed}")
        self.check_docs = rng.sample(self.docs, CHECK_SAMPLE)
        self.replay_docs = rng.sample(self.docs, min(REPLAY_SAMPLE, self.n_docs))

    def _digest(self, spark) -> tuple[int, int, list[str]]:
        """(rows, order-independent digest of (doc_id, spans), doc ids of
        sampled documents whose Spark output differs from in-process
        ``extract_document``)."""
        ids = [d["doc_id"] for d in self.check_docs]
        rows = (extract_documents(spark.read.parquet(self.path))
                .select("doc_id", F.xxhash64("doc_id", "spans").alias("h"),
                        F.when(F.col("doc_id").isin(ids), F.col("spans"))
                        .alias("spans"))
                .collect())
        digest = 0
        got = {}
        for r in rows:
            digest ^= r["h"] & 0xFFFFFFFFFFFFFFFF
            if r["spans"] is not None:
                got[r["doc_id"]] = [s.asDict() for s in r["spans"]]
        bad = [d["doc_id"] for d in self.check_docs
               if got.get(d["doc_id"])
               != extract_document(d["doc_id"], d["spans"])["spans"]]
        return len(rows), digest, bad

    def prepare(self, spark) -> list[bool]:
        self.expected = self._digest(spark)
        self.op(spark, None)  # a second warm-up: the first op runs slow
        rows, _, bad = self.expected
        return [rows == self.n_docs, not bad]

    def before_op(self) -> None:
        pass

    def op(self, spark, group: str | None) -> dict:
        (extract_documents(spark.read.parquet(self.path))
         .write.format("noop").mode("overwrite").save())
        return {"docs": self.n_docs}

    def check(self, spark, info: dict) -> bool:
        return True

    def final_checks(self, spark) -> list[bool]:
        return [self._digest(spark) == self.expected]

    def info(self) -> dict:
        return {"rows": self.expected[0], "digest": f"{self.expected[1]:016x}"}

    def layers(self, spark, group: str, wall: float, info: dict,
               oracle_doc_ms: float) -> dict[str, float]:
        trace = GroupTrace(spark, [group])
        out = _stage_layers(trace, wall, self.n_docs, oracle_doc_ms)
        out.update(dict.fromkeys(
            ["partitioning.shuffle_write_mb", "partitioning.shuffle_read_mb",
             "checkpoint.fingerprint_s", "checkpoint.partitions_processed",
             "checkpoint.partitions_skipped", "checkpoint.reextract_ratio",
             "sources.write_s", "sources.write_mb", "sources.files_written",
             "sources.append_s"], 0.0))
        return out


class PhaseBackend(ParquetBackend):
    """``ParquetBackend`` that clocks the two durable writes of a
    checkpointed run and, when traced, runs each under its own job group
    (``<group>-write``, ``<group>-append``; the rest of the run is
    ``<group>`` before the results write and ``<group>-post`` after it)."""

    def __init__(self, root: str, sc):
        super().__init__(root)
        self.sc = sc
        self.group: str | None = None
        self.marks: dict[str, float] = {}

    @contextmanager
    def _phase(self, phase: str):
        if self.group:
            self.sc.setJobGroup(f"{self.group}-{phase}", phase)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.marks[f"{phase}_start"] = t0
            self.marks[f"{phase}_s"] = time.perf_counter() - t0
            if self.group:
                self.sc.setJobGroup(f"{self.group}-post", "post")

    def overwrite_partitions(self, df, name, partition_col):
        with self._phase("write"):
            super().overwrite_partitions(df, name, partition_col)

    def append(self, df, name):
        with self._phase("append"):
            super().append(df, name)


class ExtractResume:
    """Checkpointed extraction resumed after a seeded quarter of the
    logical partitions lost 1/7 of their documents."""

    name = "extract_resume"
    n_docs = 1000
    n_parts = 16
    min_ops = 2
    # untimed resume ops after the base run: the first ones spend extra
    # JVM CPU compiling the resume path's plans and code
    warmup_ops = 1
    run_id = "bench"

    def __init__(self, seed: int, work: str, n_files: int):
        self.seed = seed
        self.n_files = n_files
        self.base_input = os.path.join(work, "resume_in_base")
        self.changed_input = os.path.join(work, "resume_in_changed")
        self.base_state = os.path.join(work, "resume_state_base")
        self.state = os.path.join(work, "resume_state")

    def build_inputs(self) -> None:
        shutil.rmtree(self.base_input, ignore_errors=True)
        self.docs = inputs.resume_corpus(self.seed, self.n_docs)
        inputs.write_parquet(self.docs, self.base_input, self.n_files)
        rng = random.Random(f"sample-{self.seed}")
        self.replay_docs = rng.sample(self.docs, min(REPLAY_SAMPLE, self.n_docs))

    def prepare(self, spark) -> list[bool]:
        base = spark.read.parquet(self.base_input)
        marked = inputs.mark_lost(base, self.seed, self.n_parts)
        (marked.filter(~F.col("lost")).select("doc_id", "spans")
         .write.mode("overwrite").parquet(self.changed_input))
        parts = (marked.groupBy("partition_key")
                 .agg(F.count("*").alias("docs"),
                      F.sum(F.col("lost").cast("int")).alias("lost"))
                 .collect())
        changed = [p for p in parts if p["lost"]]
        self.n_changed_docs = sum(p["docs"] - p["lost"] for p in parts)
        self.expect_parts = len(changed)
        self.expect_docs = sum(p["docs"] - p["lost"] for p in changed)
        self.n_present = sum(1 for p in parts if p["docs"] > p["lost"])

        shutil.rmtree(self.state, ignore_errors=True)
        self.backend = PhaseBackend(self.state, spark.sparkContext)
        self.ckpt = CheckpointedExtraction(self.backend, n_parts=self.n_parts)
        first = self.ckpt.run(spark, base, self.run_id, "2026-01-01 00:00:00")
        shutil.rmtree(self.base_state, ignore_errors=True)
        shutil.copytree(self.state, self.base_state)
        oks = [first["docs_out"] == self.n_docs,
               first["partitions_processed"] == self.n_parts]
        for _ in range(self.warmup_ops):
            self.before_op()
            oks.append(self.check(spark, self.op(spark, None)))
        return oks

    def before_op(self) -> None:
        """Restore the state of the base run (untimed)."""
        shutil.rmtree(self.state)
        shutil.copytree(self.base_state, self.state)

    def op(self, spark, group: str | None) -> dict:
        self.backend.group = group
        self.backend.marks = {}
        t0 = time.perf_counter()
        try:
            res = self.ckpt.run(spark, spark.read.parquet(self.changed_input),
                                self.run_id, "2026-01-02 00:00:00")
        finally:
            self.backend.group = None
        return res | {"docs": self.n_changed_docs, "t0": t0,
                      "marks": dict(self.backend.marks)}

    def check(self, spark, info: dict) -> bool:
        rows = self.backend.read(spark, self.ckpt.results_table).count()
        return (rows == self.n_changed_docs
                and info["partitions_processed"] == self.expect_parts
                and info["docs_out"] == self.expect_docs)

    def final_checks(self, spark) -> list[bool]:
        return []

    def info(self) -> dict:
        return {"rows": self.n_changed_docs, "changed_partitions": self.expect_parts,
                "changed_docs": self.expect_docs}

    def layers(self, spark, group: str, wall: float, info: dict,
               oracle_doc_ms: float) -> dict[str, float]:
        phases = [group, f"{group}-write", f"{group}-post", f"{group}-append"]
        trace = GroupTrace(spark, phases)
        write = GroupTrace(spark, [f"{group}-write"])
        marks = info["marks"]
        out = _stage_layers(trace, wall, info["docs_out"], oracle_doc_ms)
        processed = info["partitions_processed"]
        out.update({
            "partitioning.shuffle_write_mb": write.total("shuffle_write") / MB,
            "partitioning.shuffle_read_mb": write.total("shuffle_read") / MB,
            "checkpoint.fingerprint_s": marks.get("write_start", info["t0"]) - info["t0"],
            "checkpoint.partitions_processed": processed,
            "checkpoint.partitions_skipped": self.n_present - processed,
            "checkpoint.reextract_ratio": info["docs_out"] / max(self.expect_docs, 1),
            "sources.write_s": marks.get("write_s", 0.0),
            "sources.write_mb": write.total("output_bytes") / MB,
            "sources.files_written": write.sql.get("number of written files", 0.0),
            "sources.append_s": marks.get("append_s", 0.0),
        })
        return out


WORKLOADS = {w.name: w for w in (ExtractWeb, ExtractResume)}
