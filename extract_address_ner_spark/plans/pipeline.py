"""Checkpoint-resumable staged KG-construction pipeline with lineage.

Orchestration (SURVEY.md §2.9, §7.1.7): each stage writes its output to
``<warehouse>/stage=<name>/`` as parquet; Spark's committed ``_SUCCESS``
marker makes the stage durable. On re-run, completed stages are SKIPPED and
their parquet is read back — downstream stages always consume the *written*
artifact, so a resumed run is bit-identical to a clean one (idempotency test
in tests/test_pipeline.py).

Lineage (generalizing the reference's model_versions metrics table,
db_service.py:55-62): one row per stage —
``lineage(run_id, stage, files, rows, sha_crc_sum, wall_ms)``, written by
the Spark driver as ``<warehouse>/lineage/<stage>.json``. ``rows`` and
``sha_crc_sum`` are observed (``DataFrame.observe``) on the stage's own
write, so lineage adds no Spark job of its own. ``sha_crc_sum`` is an
order-independent integrity aggregate (sum of crc32(content_sha256) over
rows, 0 for an empty stage, NULL when the stage has no sha column) used
for the end-to-end sha256 invariant: the per-document aggregate at the
sink must equal the one at the scan (input_hint). ``files`` is the number
of parquet files the write left. ``wall_ms`` is measured on the DRIVER
around the stage write — never wall-clock inside a task (FIXTURES.md
determinism rule).

Scale notes: stage outputs are parquet (columnar, predicate-pushdown-able);
lineage is one small file per stage, written on the Spark driver; the
resume check is a filesystem probe, not a data read. At cluster scale the
warehouse dir is object storage and ``_SUCCESS`` semantics carry over
unchanged (this is exactly Iceberg-style snapshot commit semantics with a
parquet-dir backend; an Iceberg catalog can be swapped in via
spark.jars.packages without changing stage logic — SURVEY.md §7.3; the
parquet warehouse is the default because it needs no extra packages).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize_mentions
from ..operators.link import build_edges, build_nodes
from ..operators.tagger import extract_mentions
from ..operators.validate import road_address_gate

LINEAGE_SCHEMA = (
    "run_id string, stage string, files int, rows long, "
    "sha_crc_sum long, wall_ms long"
)


def _success_path(stage_dir: str) -> str:
    return os.path.join(stage_dir, "_SUCCESS")


class StagedPipeline:
    """corpus → mentions → canonical → edges + nodes, each stage durable."""

    STAGES = ("corpus", "mentions", "canonical", "edges", "nodes")

    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        run_id: str,
        sha_col: str = "content_sha256",
    ):
        self.spark = spark
        self.warehouse = warehouse
        self.run_id = run_id
        self.sha_col = sha_col
        self.ran_stages: list[str] = []  # stages actually computed this run

    # -- plumbing ----------------------------------------------------------

    def stage_dir(self, stage: str) -> str:
        return os.path.join(self.warehouse, f"stage={stage}")

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.warehouse, "lineage", f"{stage}.json")

    def is_done(self, stage: str) -> bool:
        return os.path.exists(_success_path(self.stage_dir(stage)))

    def read_stage(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(self.stage_dir(stage))

    def _write_stage(self, stage: str, df: DataFrame) -> DataFrame:
        """Write stage output, observing its lineage on the same job; write
        the stage's lineage row; return the re-read artifact (downstream
        consumes the durable copy)."""
        sha = (
            F.coalesce(F.sum(F.crc32(F.col(self.sha_col))), F.lit(0))
            if self.sha_col in df.columns
            else F.lit(None)
        )
        obs = Observation()
        t0 = time.monotonic()
        out = self.stage_dir(stage)
        df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            sha.cast("long").alias("sha_crc_sum"),
        ).write.mode("overwrite").parquet(out)
        metrics = obs.get
        wall_ms = int((time.monotonic() - t0) * 1000)
        row = {
            "run_id": self.run_id,
            "stage": stage,
            "files": sum(f.startswith("part-") for f in os.listdir(out)),
            "rows": metrics["rows"],
            "sha_crc_sum": metrics["sha_crc_sum"],
            "wall_ms": wall_ms,
        }
        path = self._lineage_path(stage)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(row, f, sort_keys=True)
        os.replace(path + ".tmp", path)  # a reader never sees half a row
        self.ran_stages.append(stage)
        # the schema is known: reading with it skips the footer-scan job
        # schema inference would start
        return self.spark.read.schema(df.schema).parquet(out)

    def _stage(self, stage: str, compute: Callable[[], DataFrame]) -> DataFrame:
        if self.is_done(stage):
            return self.read_stage(stage)
        return self._write_stage(stage, compute())

    # -- the plan ----------------------------------------------------------

    def run(self, corpus_source: Callable[[], DataFrame]) -> dict[str, DataFrame]:
        corpus = self._stage("corpus", corpus_source)
        mentions = self._stage("mentions", lambda: extract_mentions(corpus))
        canonical = self._stage(
            "canonical",
            lambda: canonicalize_mentions(road_address_gate(mentions)),
        )
        edges = self._stage(
            "edges", lambda: build_edges(canonical, persist=False)
        )
        nodes = self._stage("nodes", lambda: build_nodes(canonical))
        return {
            "corpus": corpus,
            "mentions": mentions,
            "canonical": canonical,
            "edges": edges,
            "nodes": nodes,
        }

    def lineage(self) -> DataFrame:
        """One row per stage ever written to this warehouse: a resumed run
        keeps the rows of the stages it skipped."""
        d = os.path.join(self.warehouse, "lineage")
        rows = []
        for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            if name.endswith(".json"):
                with open(os.path.join(d, name)) as f:
                    rows.append(json.load(f))
        return self.spark.createDataFrame(rows, LINEAGE_SCHEMA)

    def info(self) -> DataFrame:
        """Pipeline/run summary from the lineage table — the analogue of the
        reference's GET /model-info (app/main.py:182-189): per stage, the
        run id that wrote it, rows, written files, wall time."""
        return self.lineage().select(
            "stage",
            "run_id",
            "rows",
            F.col("files").cast("long").alias("partitions"),
            "wall_ms",
        ).orderBy("stage")

    # -- invariants --------------------------------------------------------

    def sha_invariant_ok(self) -> bool:
        """Per-document sha256 preserved end-to-end (input_hint): the
        order-independent aggregate over distinct (doc_id, sha) at the
        mentions stage equals the same aggregate over the corpus docs that
        carry mentions. Exact row-level equality is separately asserted in
        tests via a join."""
        corpus = self.read_stage("corpus").select("doc_id", self.sha_col)
        mentions = (
            self.read_stage("mentions")
            .select("doc_id", self.sha_col)
            .dropDuplicates(["doc_id"])
        )
        j = mentions.alias("m").join(
            corpus.alias("c"), on="doc_id", how="left"
        )
        mismatched = j.filter(
            (F.col(f"c.{self.sha_col}").isNull())
            | (F.col(f"m.{self.sha_col}") != F.col(f"c.{self.sha_col}"))
        ).count()
        return mismatched == 0
