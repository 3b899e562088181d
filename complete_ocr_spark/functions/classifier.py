"""Distributed TRAINING of the hashed bag-of-words quality classifier.

Round 7 shipped model-based quality FILTERING (prep.hashed_quality_score:
a fasttext/CCNet-shaped scorer whose weight table rides one broadcast
``array<bigint>`` row) but its weights came from ``make_hashed_weights``,
an explicitly-documented stand-in for "trained offline and shipped as an
artifact".  This module closes that gap: logistic-regression training of
those same weights ON the cluster — the CCNet pipeline shape (label
target-domain docs positive, raw-pool docs negative, hashed unigram
features) — so the artifact ``hashed_quality_score`` consumes is produced
by the engine itself and the trainer/scorer pair shares one feature and
margin definition bit for bit.

Determinism contract (the dsir_weights discipline): every corpus-sized
computation is integer-exact and summation-order-independent.  The only
float arithmetic is the driver-side construction of the quantized sigmoid
table (pure Python, built once from the parameters, identical on every
engine); after that, training is exact int64 arithmetic end to end —
margins in micros (the scorer's own ``(sum + bias) div n_tokens``
expression), sigmoid via integer table lookup, per-bucket gradients as
int64 sums, weight updates in arbitrary-precision Python ints.  Reruns
are bit-identical at any parallelism.

Scale shape (the BPE-training pattern: bounded sequential rounds over one
prepared corpus artifact):

- ``featurize`` runs ONCE: a zero-shuffle map pass (tokens -> md5 buckets
  -> array_sort -> positional run-length counts, the doc_term_pairs
  O(dl) idiom — no per-doc hash map, no explode) producing one compact
  ``array<struct<b,cnt>>`` row per doc, localCheckpoint'ed so per-round
  plans don't re-scan raw text and lineage stays bounded.
- each round costs two jobs over that artifact: a scalar error agg
  (1-row driver read) and the gradient pass — explode of the compact
  per-doc bucket counts into a groupBy on a BOUNDED key space
  (<= n_buckets + 1 keys, map-side-combined to that many rows per task,
  corpus-size-independent shuffle payload) — then a <= n_buckets + 1-row
  driver collect and a pure-Python weight update.  Nothing corpus-sized
  ever shuffles; round cost is one scan of the compact feature table.

Int64 headroom: |err| <= 1e6 and |(err * cnt) div n_tokens| <= 1e6 per
doc/bucket, so a per-bucket gradient sum stays in int64 up to ~9.2e12
docs; the margin fold is bounded by max|w| * n_tokens — with the update
rule |w| grows at most lr_bp * 1e6 / 1e4 per round, so even 1e3 rounds at
lr 100.0 keeps max|w| <= 1e11 and folds safe for docs up to ~9e7 tokens.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .dedup import normalized


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — Spark SQL's ``div``
    semantics, used for every driver-side update so the spec has ONE
    division rule (Python ``//`` floors, which differs on negatives)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def sigmoid_table_micros(z_max_micros: int = 12_000_000,
                         bits: int = 12) -> list[int]:
    """Quantized sigmoid lookup: 2^bits entries covering margins in
    [-z_max, +z_max] micros, entry i = floor(1e6 * sigmoid(midpoint of
    cell i)).  Built driver-side in pure Python (the gumbel_table_micros
    convention): the ONLY float arithmetic in the whole trainer, on a
    4096-entry table both engines reconstruct identically from
    (z_max_micros, bits)."""
    n = 1 << int(bits)
    step = 2 * z_max_micros / n
    out = []
    for i in range(n):
        z = (-z_max_micros + (i + 0.5) * step) / 1e6
        out.append(math.floor(1e6 / (1.0 + math.exp(-z))))
    return out


def featurize(docs: DataFrame, id_col: str, text_col: str,
              label_col: str, n_buckets: int) -> DataFrame:
    """(doc_id, y, n_tokens, fb: array<struct<b:int, cnt:bigint>>) — one
    compact hashed-bag-of-words row per non-empty doc, computed entirely
    map-side.

    Buckets use the scorer's exact idiom (``conv(md5[:8]) % n_buckets``)
    so trained weights are drop-in for hashed_quality_score.  Counts come
    from sorting the per-doc BUCKET array and emitting positional
    run-length boundaries (doc_term_pairs' O(dl) form — element_at is
    O(1), no array_position rescans).  A bias pseudo-feature
    (b = n_buckets, cnt = 1) is appended so the margin fold reproduces
    the scorer's ``(sum_t w[b(t)] + bias) div n_tokens`` exactly and the
    gradient pass trains the bias as just another bounded key.

    Labels must be integer 0/1; any other value raises at train time
    (checked on the first error agg)."""
    toks = F.split(normalized(F.col(text_col)), " ")
    buckets = F.expr(
        f"transform(_t, t -> int(conv(substring(md5(t), 1, 8), 16, 10) "
        f"% {int(n_buckets)}))"
    )
    run_starts = F.expr(
        "filter(transform(_bs_s, (x, i) -> "
        "CASE WHEN i = 0 THEN 1 "
        "WHEN element_at(_bs_s, i) <> x THEN i + 1 END), "
        "v -> v IS NOT NULL)"
    )
    fb = F.expr(
        f"concat(transform(_rs, (s, j) -> struct("
        f"element_at(_bs_s, s) AS b, "
        f"CAST((CASE WHEN j = size(_rs) - 1 THEN size(_bs_s) + 1 "
        f"ELSE element_at(_rs, j + 2) END) - s AS BIGINT) AS cnt)), "
        f"array(struct({int(n_buckets)} AS b, CAST(1 AS BIGINT) AS cnt)))"
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(label_col).cast("bigint").alias("y"),
            toks.alias("_t"),
        )
        .filter(F.array_join("_t", "") != "")
        .withColumn("n_tokens", F.size("_t").cast("bigint"))
        .withColumn("_bs_s", F.array_sort(buckets))
        .withColumn("_rs", run_starts)
        .select("doc_id", "y", "n_tokens", fb.alias("fb"))
    )


def _margin_and_err(feats: DataFrame, w: list[int], sig: list[int],
                    z_max_micros: int) -> DataFrame:
    """feats + (margin_micros, p_micros, err_micros) for the current
    weight vector.  The weight table and sigmoid table ride ONE broadcast
    row each as ``array<bigint>`` (plan size constant in n_buckets); the
    corpus side is a single integer Catalyst projection."""
    spark = feats.sparkSession
    tabs = spark.createDataFrame(
        [([int(x) for x in w], [int(x) for x in sig])],
        "cw: array<bigint>, sig: array<bigint>",
    )
    dot = F.expr(
        "aggregate(fb, bigint(0), (a, x) -> a + element_at(cw, x.b + 1) "
        "* x.cnt)"
    )
    out_cols = ["doc_id", "y", "n_tokens", "fb", "margin_micros",
                "p_micros", "err_micros"]
    if "_val" in feats.columns:
        # single-pass train+val scoring (round 9): the val slice rides the
        # same corpus scan and the caller splits stats by the flag
        out_cols.append("_val")
    return (
        feats.crossJoin(F.broadcast(tabs))
        .withColumn("_dot", dot)
        .withColumn("margin_micros", F.expr("_dot div n_tokens"))
        .withColumn(
            "_idx",
            F.expr(
                f"least(greatest((margin_micros + {int(z_max_micros)}) "
                f"* {len(sig)} div {2 * int(z_max_micros)}, 0), "
                f"{len(sig) - 1})"
            ),
        )
        .withColumn("p_micros", F.expr("element_at(sig, int(_idx) + 1)"))
        .withColumn("err_micros",
                    F.col("y") * 1_000_000 - F.col("p_micros"))
        .select(*out_cols)
    )


def train_hashed_classifier(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 256,
    n_iters: int = 10,
    lr_bp: int = 200_000,
    z_max_micros: int = 12_000_000,
    sig_bits: int = 12,
    val_bp: int = 0,
) -> tuple[list[int], int, list[dict]]:
    """Full-batch logistic regression on hashed unigram features, integer
    fixed-point end to end.  Returns ``(weights_micros[n_buckets],
    bias_micros, history)`` — weights plug straight into
    prep.hashed_quality_score (same bucket hash, same margin expression).

    Update rule, per round (gradient ASCENT on the log-likelihood; all
    divisions truncate toward zero, Spark's ``div``):

        margin_d = (sum_t w[b(t)] + bias) div n_tokens_d       (micros)
        p_d      = sigmoid_table[clamp(margin_d)]              (micros)
        err_d    = y_d * 1e6 - p_d
        g_b      = sum_d (err_d * cnt_{d,b}) div n_tokens_d    (int64)
        w_b     += tdiv(lr_bp * g_b, 10_000 * n_docs)

    ``val_bp`` (basis points, default 0 = off) holds out a deterministic
    validation slice — docs with md5('clfval:' || id) % 10000 < val_bp —
    that NEVER contributes to gradients; its per-round accuracy rides the
    history so overfitting is visible from the artifact alone.  The hash
    is salted with its own prefix (the upsample_domains lesson: composed
    selection decisions must be independent).

    history rows: (iter, n_docs, sum_abs_err, n_correct[, val_docs,
    val_sum_abs_err, val_correct]) — integer telemetry (correct = p on
    y's side of 500_000), enough to assert "training learns" without
    floats.
    """
    if int(n_iters) < 1:
        raise ValueError("n_iters must be >= 1")
    if int(lr_bp) <= 0:
        raise ValueError("lr_bp must be a positive integer (basis points)")
    if int(n_buckets) < 2:
        raise ValueError("n_buckets must be >= 2")
    if not 0 <= int(val_bp) < 10_000:
        raise ValueError("val_bp must be in [0, 10000)")

    sig = sigmoid_table_micros(z_max_micros, sig_bits)
    feats = featurize(docs, id_col, text_col, label_col,
                      n_buckets).withColumn(
        "_val",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("clfval:"),
                                       F.col("doc_id").cast("string"))),
                        1, 8), 16, 10
        ).cast("bigint") % 10_000 < int(val_bp),
    ).localCheckpoint()

    bad = feats.filter(~F.col("y").isin(0, 1) | F.col("y").isNull()).count()
    if bad:
        raise ValueError(
            f"{label_col} must be integer 0/1 on every non-empty doc "
            f"({bad} rows are not)"
        )
    train = feats.filter(~F.col("_val"))
    n_docs = train.count()
    if n_docs == 0:
        raise ValueError("no non-empty training docs (val split too large?)")

    correct = (F.col("p_micros") >= 500_000) == (F.col("y") == 1)

    def _stats(scored):
        return scored.agg(
            F.count("*").alias("n"),
            F.sum(F.abs(F.col("err_micros"))).alias("sum_abs_err"),
            F.sum(F.when(correct, 1).otherwise(0)).alias("n_correct"),
        ).collect()[0]  # bounded: 1 row

    def _stats_split(scored):
        """Train AND val telemetry from ONE pass over the scored frame
        (round-8 verdict #3: the two-`_stats` form ran `_margin_and_err`
        twice per round): six conditional sums keyed on `_val`, still a
        bounded 1-row driver read."""
        t, v = ~F.col("_val"), F.col("_val")
        return scored.agg(
            F.sum(F.when(t, F.abs(F.col("err_micros")))).alias("sum_abs_err"),
            F.sum(F.when(t & correct, 1).otherwise(0)).alias("n_correct"),
            F.sum(F.when(v, 1).otherwise(0)).alias("val_docs"),
            F.sum(F.when(v, F.abs(F.col("err_micros"))))
            .alias("val_sum_abs_err"),
            F.sum(F.when(v & correct, 1).otherwise(0)).alias("val_correct"),
        ).collect()[0]  # bounded: 1 row

    w = [0] * (int(n_buckets) + 1)  # [buckets..., bias]
    history: list[dict] = []
    for it in range(int(n_iters)):
        if int(val_bp) > 0:
            # score train+val in ONE corpus pass; gradients filter this
            # scored projection of the checkpointed `feats` to the train
            # slice (scored_all itself is not checkpointed)
            scored_all = _margin_and_err(feats, w, sig, z_max_micros)
            stats = _stats_split(scored_all)
            row = {
                "iter": it,
                "n_docs": int(n_docs),
                "sum_abs_err": int(stats["sum_abs_err"]),
                "n_correct": int(stats["n_correct"]),
                "val_docs": int(stats["val_docs"]),
                "val_sum_abs_err": int(stats["val_sum_abs_err"] or 0),
                "val_correct": int(stats["val_correct"] or 0),
            }
            scored = scored_all.filter(~F.col("_val"))
        else:
            scored = _margin_and_err(train, w, sig, z_max_micros)
            stats = _stats(scored)
            row = {
                "iter": it,
                "n_docs": int(n_docs),
                "sum_abs_err": int(stats["sum_abs_err"]),
                "n_correct": int(stats["n_correct"]),
            }
        history.append(row)
        grads = (
            scored.select(F.explode("fb").alias("f"), "err_micros",
                          "n_tokens")
            .select(
                F.col("f.b").alias("b"),
                F.expr("(err_micros * f.cnt) div n_tokens").alias("g"),
            )
            .groupBy("b")
            .agg(F.sum("g").alias("g"))
            .collect()  # bounded: <= n_buckets + 1 rows
        )
        for r in grads:
            w[r["b"]] += _tdiv(int(lr_bp) * int(r["g"]),
                               10_000 * int(n_docs))
    return w[:-1], w[-1], history


def synthetic_labeled_corpus(n_docs: int = 240,
                             doc_len: int = 30) -> list[tuple[int, int, str]]:
    """Deterministic separable labeled fixture: [(doc_id, y, text)].

    Class-1 docs draw marker tokens from an 'alpha' vocabulary, class-0
    from 'beta', both mixed with a shared 'common' vocabulary; every
    choice is md5-derived from (doc_id, position), so both engines and
    the pure-Python oracle regenerate the identical corpus from the two
    integers (the make_hashed_weights convention: no external data)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    out = []
    for i in range(int(n_docs)):
        y = i % 2
        toks = []
        for j in range(int(doc_len)):
            r = h(f"clf:{i}:{j}")
            if r % 3 == 0:
                base = "alpha" if y else "beta"
                toks.append(f"{base}{r % 16}")
            else:
                toks.append(f"common{r % 16}")
        out.append((i, y, " ".join(toks)))
    return out
