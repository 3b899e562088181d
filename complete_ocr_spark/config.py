"""Engine configuration.

Detection/structure constants are pinned to the reference's values
(``/root/reference/src/ocr_config.py:1-11``) because the correctness gate is
exact span-sequence equality with the oracle transcription of the reference.
"""

from __future__ import annotations

import os


# --- reference constants (src/ocr_config.py:3-8) -------------------------------
DET_THRESHOLD = 0.5                 # src/ocr_config.py:3 — drop detections below
ROW_DETERMINING_THRESHOLD = 0.6667  # src/ocr_config.py:5 — y-gap sessionize (W1)
COL_DETERMINING_THRESHOLD = 0.5     # src/ocr_config.py:6 — x-gap sessionize (W2)
NMS_TABLE_THRESHOLD = 0.1           # src/ocr_config.py:7
NMS_CELL_THRESHOLD = 0.0001         # src/ocr_config.py:8

# Layout (figure) detector score threshold: the reference configures its
# LayoutParser/Detectron2 model with MODEL.ROI_HEADS.SCORE_THRESH_TEST = 0.8
# (src/pdf_ocr_frcnn_tesseract_ocr.py:118-120), so only Figure detections with
# score >= 0.8 reach the pipeline.
FIGURE_SCORE_THRESHOLD = 0.8

# --- boilerplate-strip constants (engine-defined; generalization of the
# reference's DOM-pruning heuristic in
# experiments/postprocessing_singular_word_treatment.py:5-46, à la jusText) ----
STRIP_MIN_WORDS = 5          # blocks shorter than this are boilerplate
STRIP_MAX_LINK_DENSITY = 0.33  # blocks with more anchor-text than this are nav

# --- nested-OCR hierarchy stand-in (engine-defined) ------------------------------
# DocTR emits blocks -> lines -> words (src/get_nested_ocr.py:278-294); the
# descriptor stand-in derives lines from word boxes by the same W1 y-gap
# sessionization and derives blocks by a second, coarser pass over line y1
# gaps: a new block starts when the gap exceeds this factor x mean line height.
NESTED_BLOCK_GAP_FACTOR = 3.0

# --- synthetic data -------------------------------------------------------------
SYNTH_SEED = 42

# --- scale knobs ---------------------------------------------------------------
# Lineage / restart bucket count: partition key for idempotent overwrite.
# At 10^12 docs this would be sized so one bucket ~= one Iceberg partition
# (e.g. 2**14 buckets); locally small so the kill/restart test is meaningful.
DEFAULT_N_BUCKETS = 32


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_spark(app_name: str = "complete_ocr_spark", master: str | None = None,
                shuffle_partitions: int | None = None, extra_conf: dict | None = None):
    """Session factory with the engine's scale-oriented defaults.

    AQE on (skew-join split + partition coalescing), Arrow on for pandas UDF
    transfer, shuffle partitions sized to cores (not the 200 default).
    """
    from pyspark.sql import SparkSession

    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # InferFiltersFromGenerate pushes `size(arr) > 0 AND isnotnull(arr)`
        # below every explode; when the generator input is a COMPUTED array
        # (gram md5 transforms, hashed-feature streams, minhash shingles —
        # this engine's standard idiom) the inferred Filter re-evaluates the
        # whole array expression per row OUTSIDE whole-stage codegen, i.e.
        # the dominant map work runs ~3x interpreted. Excluding the rule
        # costs nothing here (explode itself skips empty arrays) and
        # measured 6-8x on the gram-explode operators (OPTIMIZATION_r09.md)
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # local inputs are few small files; split aggressively so the scan +
        # explode stage parallelizes (cluster-scale inputs split at 128MB
        # natively — this only emulates that shape locally)
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        # v2 commit: task output moves straight to the destination at task
        # commit (one rename) instead of the two-step job-commit rename walk
        # — the incremental runners issue ~12 small store writes per batch,
        # so per-write commit latency is a first-order cost there (atomic-
        # visibility loss is irrelevant for these single-writer local
        # stores; cloud deployments use manifest-committing table formats)
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
                "2")
        .config("spark.ui.enabled", "false")
        # generated-class cache (a static, JVM-wide conf). One incremental
        # curation batch has more distinct generated classes than the
        # default 100 entries, so every batch evicted and recompiled its
        # own: ~250 Janino compilations per steady batch (~1.9 s of driver
        # compile plus ~5.7 CPU-s of JIT), 260 for a re-delivered identical
        # batch. At 2,000 a re-delivered batch compiles 4 and a steady new
        # one ~40 (plans whose literals change per batch). Entries are
        # small (one compiled class each)
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        # ParallelGC: the default G1 degrades monotonically across repeated
        # heavy allocation bursts here (nested-array building at 32 mutator
        # threads: measured 17s -> 33s over 3 runs; ParallelGC stays flat)
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to executors (spark-submit --py-files equivalent) so
    # the pandas UDFs deserialize regardless of the driver's cwd
    from .packaging import build_pyfiles_zip

    spark.sparkContext.addPyFile(build_pyfiles_zip())
    return spark
