"""Deduplication operators for web-scale corpora — all shuffle-aware DataFrame
compositions (no UDFs):

* exact: hash-groupBy on a normalized fingerprint — one shuffle on the hash.
* MinHash-LSH: shingle -> per-band min-hash -> band-bucket join. The classic
  near-dup path: candidate generation is equi-join-able (bucket key), so at
  100 TB it is one shuffle on (band, minhash) instead of an O(n^2) compare.
* SimHash: per-token bit votes -> 16-bit signature; duplicates collide on the
  signature (groupBy).
* n-gram Jaccard: exact verification for candidate pairs (explode shingles,
  self-equi-join on shingle, count intersections) — run it after LSH at scale;
  the sf-test runs it standalone.

Hashes are md5-based so the DuckDB oracle computes bit-identical values.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, functions as F

N_BANDS = 4


def normalized(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of byte-identical (normalized) documents: fingerprint, count,
    representative = min id."""
    return (
        df.withColumn("fp", F.md5(normalized(F.col(text_col))))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


def _words(text_col: str):
    return F.split(normalized(F.col(text_col)), " ")


def minhash_lsh_buckets(df: DataFrame, id_col: str, text_col: str,
                        n_bands: int = N_BANDS) -> DataFrame:
    """(band, minhash) buckets holding >= 2 docs — near-dup candidates.

    Signature: per band b, min over words of md5(b || '|' || word). Word-level
    shingles; the md5 hex ordering is the hash order (identical in DuckDB).
    Single-row bands — the hash-exact oracle form; the tunable
    precision/recall form is ``minhash_banded_buckets`` (r rows per band:
    candidate probability s^r per band, 1-(1-s^r)^b overall for Jaccard s).
    """
    words = (
        df.select(F.col(id_col).alias("doc"), F.explode(F.array_distinct(_words(text_col))).alias("w"))
    )
    bands = words.select(
        "doc", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
        F.col("w"),
    ).withColumn("h", F.md5(F.concat_ws("|", F.col("band").cast("string"), F.col("w"))))
    sig = bands.groupBy("doc", "band").agg(F.min("h").alias("minhash"))
    return (
        sig.groupBy("band", "minhash")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_band_keys_df(df: DataFrame, id_col: str, text_col: str,
                         n_bands: int = 3, n_rows: int = 2) -> DataFrame:
    """Per-doc (doc, band, band_key) MinHash band keys — the banding half of
    ``minhash_banded_buckets``, exposed as the signature of the MinHash
    scheme of the one streaming dedup body (streaming.dedup_stream
    ``SCHEMES["minhash"]``, built by make_minhash_dedup_batch)."""
    n_hashes = n_bands * n_rows
    words = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(_words(text_col))).alias("w"),
    )
    hashes = words.select(
        "doc",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))).alias("i"),
        F.col("w"),
    ).withColumn("h", F.md5(F.concat_ws("|", F.col("i").cast("string"), F.col("w"))))
    sig = hashes.groupBy("doc", "i").agg(F.min("h").alias("mh"))
    band_key = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mh"))), lambda s: s["mh"]
            ),
            "|",
        )
    )
    return (
        sig.withColumn("band", (F.col("i") / n_rows).cast("int"))
        .groupBy("doc", "band")
        .agg(band_key.alias("band_key"))
    )


def minhash_banded_buckets(df: DataFrame, id_col: str, text_col: str,
                           n_bands: int = 3, n_rows: int = 2) -> DataFrame:
    """(bands x rows) MinHash-LSH: the standard tunable banding.

    Signature = n_bands*n_rows independent min-hashes (hash i = min over
    words of md5(i || '|' || w)); band j's bucket key = md5 of its n_rows
    row-hashes concatenated in hash order. Two docs become candidates in band
    j iff ALL r row-hashes agree — P(candidate per band) = s^r for Jaccard s,
    overall 1-(1-s^r)^b: r sharpens precision, b buys recall back, both free
    parameters at scale (the single-row form has no precision knob). Still
    one shuffle on (band, band_key).
    """
    banded = minhash_band_keys_df(df, id_col, text_col, n_bands, n_rows)
    return (
        banded.groupBy("band", "band_key")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list("doc")).alias("docs"))
        .filter(F.col("n_docs") > 1)
    )


def simhash16(df: DataFrame, id_col: str, text_col: str,
              impl: str = "pandas") -> DataFrame:
    """16-bit SimHash: bit j votes +1/-1 by the high bit of hex digit j of
    md5(token); signature bit = sign of the vote sum. Output (id, simhash).

    Hash-exact oracle form; at corpus scale use ``simhash64`` — with 10^10+
    docs a 16-bit space (65k signatures) collides almost everything.

    The high bit of hex digit j IS bit 4j+3 of the md5 digest, and SimHash
    signature bits threshold each vote independently — so the 16-bit
    signature is a pure bit PROJECTION of the 64-bit one: sig16 bit j =
    sig64 bit 4j+3. ``impl="pandas"`` (default) therefore derives it from
    the Arrow simhash64 kernel with 16 integer ops per row (measured ~7x
    over the per-token Catalyst vote agg, which remains as
    ``impl="catalyst"`` — its SQL transcription is the DuckDB oracle)."""
    if impl == "pandas":
        s = simhash64(df, id_col, text_col, impl="pandas")
        sim = None
        for j in range(16):
            p = 4 * j + 3
            half = F.col("simhash_lo") if p < 32 else F.col("simhash_hi")
            bit = F.shiftright(half.cast("bigint"), p % 32).bitwiseAND(
                F.lit(1)
            ) * F.lit(2**j)
            sim = bit if sim is None else sim + bit
        return s.select("doc", sim.cast("bigint").alias("simhash"))
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(_words(text_col)).alias("w")
    ).withColumn("h", F.md5("w"))
    votes = toks.select(
        "doc",
        *[
            F.when(
                F.instr(F.lit("89abcdef"), F.substring("h", j + 1, 1)) > 0, 1
            ).otherwise(-1).alias(f"b{j}")
            for j in range(16)
        ],
    ).groupBy("doc").agg(*[F.sum(f"b{j}").alias(f"v{j}") for j in range(16)])
    sim = None
    for j in range(16):
        bit = F.when(F.col(f"v{j}") > 0, 2**j).otherwise(0)
        sim = bit if sim is None else sim + bit
    return votes.select("doc", sim.cast("bigint").alias("simhash"))


def simhash64(df: DataFrame, id_col: str, text_col: str,
              impl: str = "pandas") -> DataFrame:
    """64-bit SimHash over md5 token hashes (bits 0..63 of the digest).

    Emitted as two 32-bit halves (simhash_hi = bits 32..63, simhash_lo =
    bits 0..31) so the value fits signed BIGINT on both engines. Dedup use:
    group on (hi, lo) for exact-signature collisions; near-dup probing flips
    Hamming-neighborhood bits per half. Still one shuffle (the groupBy).

    Two bit-identical implementations, A/B-measured at sf0.1 (interleaved
    best-of-3, BASELINE.md §simhash64 A/B):

    * ``impl="pandas"`` (default): Arrow-batched numpy kernel
      (kernels.simhash) — one pass per document, per-task token vote cache,
      measured ~5x faster; zero shuffles (the Catalyst form pays one for its
      vote groupBy).
    * ``impl="catalyst"``: pure-JVM vote aggregation — the oracle-anchor
      form (its SQL transcription IS the DuckDB oracle) and the fallback if
      a deployment must stay Python-free. The 16 hex-digit values are
      projected ONCE per token; the naive per-bit substring/instr form did
      64 string ops per token and measured ~2x slower still.
    """
    if impl == "pandas":
        from ..kernels.simhash import simhash64_batch

        # carry the caller's id type through (doc_id is string in the docs
        # table but bigint in the driver's documents table)
        id_type = df.schema[id_col].dataType.simpleString()
        return df.select(
            F.col(id_col).alias("doc"), F.col(text_col).alias("text")
        ).mapInPandas(
            simhash64_batch,
            schema=f"doc {id_type}, simhash_hi bigint, simhash_lo bigint",
        )
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(_words(text_col)).alias("w")
    ).withColumn("h", F.md5("w"))
    digits = toks.select(
        "doc",
        *[
            (F.instr(F.lit("0123456789abcdef"), F.substring("h", d + 1, 1)) - 1)
            .alias(f"d{d}")
            for d in range(16)
        ],
    )
    votes = digits.select(
        "doc",
        *[
            F.when(
                F.floor(F.col(f"d{b // 4}") / F.lit(2 ** (b % 4))) % 2 == 1, 1
            ).otherwise(-1).alias(f"b{b}")
            for b in range(64)
        ],
    ).groupBy("doc").agg(*[F.sum(f"b{b}").alias(f"v{b}") for b in range(64)])
    lo = None
    hi = None
    for b in range(32):
        bit_lo = F.when(F.col(f"v{b}") > 0, 2**b).otherwise(0)
        bit_hi = F.when(F.col(f"v{b + 32}") > 0, 2**b).otherwise(0)
        lo = bit_lo if lo is None else lo + bit_lo
        hi = bit_hi if hi is None else hi + bit_hi
    return votes.select(
        "doc", hi.cast("bigint").alias("simhash_hi"), lo.cast("bigint").alias("simhash_lo")
    )


def simhash_band_combos(n_blocks: int = 4, max_hamming: int = 3) -> list[tuple[int, ...]]:
    """Manku block-combination banding law (SURVEY.md §8).

    Split the 64-bit signature into ``n_blocks`` equal blocks. A pair within
    Hamming distance ``max_hamming`` differs in at most ``max_hamming``
    blocks, so it agrees EXACTLY on some combination of
    ``n_blocks - max_hamming`` blocks — banding on ALL C(n_blocks,
    n_blocks - max_hamming) such combinations guarantees every true pair
    becomes a candidate. Wider keys cut collisions: each band key carries
    ``64 * (n_blocks - max_hamming) / n_blocks`` bits, so expected random
    candidates per band fall from n^2/2^16 (4 blocks, 16-bit keys) to
    n^2/2^40 (8 blocks, 5-block 40-bit keys) — the difference between an
    infeasible and a routine join output at 10^10 docs.
    """
    if 64 % n_blocks or 32 % (64 // n_blocks):
        raise ValueError("blocks must evenly tile each 32-bit signature half")
    k = n_blocks - max_hamming
    if k < 1:
        raise ValueError("need n_blocks > max_hamming for a pigeonhole guarantee")
    return list(combinations(range(n_blocks), k))


def _block_value_sql(i: int, width: int) -> str:
    """Bits [i*width, (i+1)*width) of the (hi, lo) signature as a bigint —
    integer shift+mask (no double round-trip, valid for any half width)."""
    shift = i * width
    half = "simhash_lo" if shift < 32 else "simhash_hi"
    return (f"(shiftright(CAST({half} AS BIGINT), {shift % 32}) "
            f"& {2 ** width - 1})")


def simhash_band_keys(n_blocks: int = 4, max_hamming: int = 3):
    """Array of band keys over (simhash_hi, simhash_lo) columns: key of combo
    (i_0 < ... < i_{k-1}) = sum_j value(block i_j) * 2^(width*j).

    Built as ONE generated-SQL expression (a single JVM call, the
    _band_arms_sql oracle-generator idiom): the Column-algebra form built
    the 8-block geometry's 56 keys x 5 shift/mask subtrees through hundreds
    of py4j round-trips — ~2.5 s of DRIVER time per call site at n_blocks=8,
    2-3x the banded join it fed (measured round 9; the expression tree and
    the array<bigint> schema are unchanged, only where it is assembled)."""
    width = 64 // n_blocks
    keys = []
    for combo in simhash_band_combos(n_blocks, max_hamming):
        terms = " + ".join(
            f"{_block_value_sql(i, width)} * {2 ** (width * j)}"
            for j, i in enumerate(combo)
        )
        keys.append(f"CAST({terms} AS BIGINT)")
    return F.expr("array(" + ", ".join(keys) + ")")


def simhash_hamming_pairs(df: DataFrame, id_col: str, text_col: str,
                          max_hamming: int = 3, n_blocks: int = 4,
                          sig_store: str | None = None) -> DataFrame:
    """SimHash near-dup pairs (Manku-style): 64-bit signature banded on block
    COMBINATIONS (``simhash_band_combos``); by pigeonhole any pair within
    ``max_hamming`` agrees exactly on at least one band, so candidates come
    from a single equi-join on (band, value) — one shuffle, never all-pairs —
    and the verify is popcount of the signature XOR. The verify makes the
    final pair set banding-independent: every (n_blocks, max_hamming) choice
    returns exactly the pairs with Hamming <= max_hamming. n_blocks=4 keeps
    the original 4x16-bit geometry (one band per block); n_blocks=8 gives
    C(8,5)=56 bands of 40-bit keys — same guarantee, ~2^24x fewer random
    collisions per band, the geometry to deploy at 10^10 docs.

    ``sig_store``: parquet path for the signature table. Spark does NOT reuse
    exchanges across the self-join sides of a MapInPandas subtree, so the
    default (None) runs the signature kernel TWICE — acceptable at sf, where
    join volume dominates, but at corpus scale the kernel pass over the full
    text is the expensive leg. With ``sig_store`` set, signatures are written
    once (one kernel pass over the text) and both join sides read the 16
    B/doc parquet back — the same shape the streaming path uses its signature
    table for. tests/test_dedup_props.py pins both routes identical and the
    stored route kernel-free in the pair-join plan."""
    sig = simhash64(df, id_col, text_col)
    if sig_store is not None:
        sig.write.mode("overwrite").parquet(sig_store)
        sig = df.sparkSession.read.parquet(sig_store)
    else:
        # both sides of the banded self-join consume the signature frame
        # and Spark reuses no exchanges across MapInPandas subtrees, so the
        # un-stored route used to run the kernel (and the whole text
        # subtree under it) TWICE. A lazy localCheckpoint materializes the
        # 16 B/doc signatures once at first use — the in-memory twin of the
        # sig_store parquet round-trip, without the write.
        sig = sig.localCheckpoint(eager=False)
    return simhash_hamming_pairs_from_sigs(sig, max_hamming, n_blocks)


def simhash_hamming_pairs_from_sigs(sigs: DataFrame, max_hamming: int = 3,
                                    n_blocks: int = 4) -> DataFrame:
    """Near-dup pairs over an existing signature frame
    (doc, simhash_hi, simhash_lo) — the corpus-scale entry point: compute or
    load signatures ONCE (e.g. the streaming signature table, or the
    ``sig_store`` leg of ``simhash_hamming_pairs``) and run only the banded
    join here. Semantics identical to ``simhash_hamming_pairs``."""
    bands = sigs.select(
        "doc", "simhash_hi", "simhash_lo",
        F.posexplode(simhash_band_keys(n_blocks, max_hamming)).alias("band", "value"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    ham = (
        F.bit_count(F.col("x.simhash_hi").bitwiseXOR(F.col("y.simhash_hi")))
        + F.bit_count(F.col("x.simhash_lo").bitwiseXOR(F.col("y.simhash_lo")))
    ).cast("int")
    # verify BEFORE distinct: the popcount is a per-row map, so junk
    # candidates (the n^2/2^key_bits term) die before the dedup shuffle —
    # only true pairs (x the <= n_bands bands they co-match in) get shuffled
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.value") == F.col("y.value"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(
            F.col("x.doc").alias("doc1"), F.col("y.doc").alias("doc2"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def dup_clusters(df: DataFrame, id_col: str, text_col: str,
                 max_hamming: int = 3, n_blocks: int = 4,
                 max_iters: int = 20,
                 sig_store: str | None = None) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the SimHash near-dup pair
    graph — the step that turns pairwise matches into "keep one document per
    duplicate cluster" for a training corpus.

    Algorithm: min-label propagation. Every doc in a pair starts labeled with
    itself; each iteration replaces a doc's label by the minimum over itself
    and its neighbors' labels; at fixpoint the label is the component's
    minimum doc id (the canonical representative). Near-dup components are
    near-cliques, so the loop converges in O(component diameter) ~ 2-3
    iterations; each iteration is one equi-join + one aggregation (two
    shuffles) — the same primitive loop as large-scale connected-components
    (Kiveris et al.'s large-star/small-star refines the SAME iteration for
    skewed web graphs). ``localCheckpoint`` truncates the growing lineage per
    iteration, and a ``limit(1)`` probe stops at convergence — this operator
    is deliberately EAGER (iterative fixpoint is not single-pass SQL; the
    DuckDB oracle uses a recursive CTE).

    Returns (doc, cluster, n_members) for every doc that has at least one
    near-dup edge; cluster = min doc id of its component.

    ``sig_store``: forwarded to ``simhash_hamming_pairs`` — at corpus scale
    set it so the signature kernel runs ONCE into 16 B/doc parquet instead
    of once per self-join side (the exchange-reuse gap; see that
    docstring).
    """
    pairs = simhash_hamming_pairs(df, id_col, text_col, max_hamming,
                                  n_blocks, sig_store=sig_store)
    return connected_components(pairs.select("doc1", "doc2"), max_iters)


_CC_LOCAL_MAX_EDGES = 100_000  # bounded driver read (a few MB of id pairs)


def connected_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """Min-label propagation over an undirected (doc1, doc2) edge list; see
    ``dup_clusters``. Returns (doc, cluster, n_members).

    Small graphs take a BOUNDED driver fast path: near-dup edge lists are
    usually tiny relative to the corpus (verified pairs only), while the
    distributed fixpoint pays ~4 jobs per iteration regardless of size.
    When at most ``_CC_LOCAL_MAX_EDGES`` edges exist (probed with a
    limit-bounded collect — never more than that many rows reach the
    driver), union-find runs driver-side and the result is parallelized
    back; the labels are identical by construction (component minimum, and
    Python's code-point string order == Spark's UTF-8 binary order).
    Larger graphs fall through to the distributed loop unchanged."""
    probe = edges.limit(_CC_LOCAL_MAX_EDGES + 1).collect()
    if len(probe) <= _CC_LOCAL_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for r in probe:
            a, b = r["doc1"], r["doc2"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the root is the component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        labels_py = {x: find(x) for x in parent}
        sizes_py: dict = {}
        for lab in labels_py.values():
            sizes_py[lab] = sizes_py.get(lab, 0) + 1
        id_type = dict(edges.dtypes)["doc1"]
        spark = edges.sparkSession
        return spark.createDataFrame(
            [(x, lab, sizes_py[lab]) for x, lab in labels_py.items()],
            f"doc {id_type}, cluster {id_type}, n_members bigint",
        )
    sym = edges.union(
        edges.select(F.col("doc2").alias("doc1"), F.col("doc1").alias("doc2"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("doc1").alias("doc")).distinct()
        .withColumn("label", F.col("doc"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels, sym.doc2 == labels.doc)
            .groupBy(sym.doc1.alias("doc"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # the update join already holds BOTH the old and the candidate
        # label, so the changed flag rides the same row — the convergence
        # probe below is then a shuffle-free filter over the checkpointed
        # frame instead of a second new-vs-old join (one exchange + one
        # join fewer per iteration, and CC runs inside every near-dup /
        # semantic / media consumer)
        new_labels = (
            labels.join(nbr_min, "doc", "left")
            .select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
                (
                    F.coalesce("nbr_label", F.col("label")) < F.col("label")
                ).alias("_chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("_chg").limit(1).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        # silent non-convergence would return wrong clusters (a >max_iters-
        # diameter chain keeps intermediate labels) — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    sizes = labels.groupBy("label").agg(F.count("*").alias("n_members"))
    return (
        labels.join(sizes, "label")
        .select(F.col("doc"), F.col("label").alias("cluster"), "n_members")
    )


def ngram_shingles(text_col: str, n: int = 3):
    """n-word shingles as an array column; docs with < n words get none."""
    w = _words(text_col)
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(w, (i + k + 1).cast("int")) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs above ``threshold``.

    explode distinct shingles -> self-join on shingle -> intersection counts;
    union sizes from per-doc distinct counts. At scale, feed only LSH
    candidates into the self-join; the equi-join on the shingle key is the
    shuffle, and Catalyst/AQE handles skewed shingles.
    """
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(ngram_shingles(text_col, n))).alias("s"),
    )
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc1"), F.col("b.doc").alias("doc2"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col("doc").alias("doc2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(sa, "doc1").join(sb, "doc2")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc1", "doc2", "n_inter", "n1", "n2", "jaccard")
    )


def segment_fingerprints(df: DataFrame, id_col: str, text_col: str,
                         win: int = 20, stride: int = 10) -> DataFrame:
    """(doc_id, ws, fp) window fingerprints: md5 of every ``win``-token
    window starting at stride-grid offsets of the normalized token stream —
    the shared signature step of ``segment_dup_spans`` (batch) and
    streaming.dedup_stream.make_segment_dedup_batch (incremental store).
    Docs shorter than ``win`` tokens emit nothing (whole-doc dedup's job)."""
    if stride < 1 or win < 1 or stride > win:
        raise ValueError(f"need 1 <= stride <= win, got win={win} stride={stride}")
    toks = F.split(normalized(F.col(text_col)), " ")
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("t"))
        .filter(F.size("t") >= win)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.size("t") - win, F.lit(stride))
            ).alias("ws"),
            "t",
        )
        .select(
            "doc_id", "ws",
            F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("ws") + 1, win)))
            .alias("fp"),
        )
    )


def segment_dup_spans(df: DataFrame, id_col: str, text_col: str,
                      win: int = 20, stride: int = 10) -> DataFrame:
    """SEGMENT-level exact dedup: maximal token spans a document shares with
    an earlier document — the repeated-SPAN removal pass (boilerplate
    paragraphs, licenses, templates) that whole-doc dedup cannot see: a
    repeated span at 10% of each doc moves SimHash-64 far beyond
    max_hamming=3, yet is exactly what a training-data pipeline must strip.

    Shape (one fingerprint pass, no pairwise join — the reference point is
    the suffix-array/Bloom "exact substring" dedup of the C4/RefinedWeb
    lineage, re-expressed as Spark-native window fingerprinting):

    * tokenize the normalized text; fingerprint every ``win``-token window
      starting at multiples of ``stride`` with md5 — fixed-length shingles,
      so a shared run of w >= win tokens is guaranteed to share at least one
      aligned window when ``stride`` divides the alignment offset (stride <=
      win/2 gives overlap coverage; exact boundaries are quantized to the
      stride grid).
    * canonical owner per fingerprint = min doc id, via groupBy (partial
      aggregation collapses hot boilerplate fingerprints map-side — a
      window-function MIN over the fp partition would put 10^8 occurrences
      of one license text into one task; the groupBy form cannot skew).
    * each later doc's matching windows join back on the fingerprint
      (AQE skew-join splits any residual hot key) and ADJACENT hits against
      the same owner merge into maximal spans (gaps-and-islands on the
      stride grid).

    Returns (doc_id, dup_of, span_start, span_end, n_windows): token-index
    span [span_start, span_end) of ``doc_id`` also present in ``dup_of``
    (the earliest doc holding every merged window), n_windows = merged
    window count. Docs shorter than ``win`` tokens are whole-doc dedup's
    job (exact_dup_groups) and emit nothing here.

    The window subtree feeds both the canon groupBy and the probe side, so
    tokenize+md5 runs twice (Spark reuses no exchanges across join sides) —
    deliberate: both passes are map-side JVM work, while caching the
    n_tokens/stride fingerprint rows would cost more IO than recomputing
    them (same call as the sig_store trade-off, which went the other way
    because its signature kernel is Python)."""
    wins = segment_fingerprints(df, id_col, text_col, win=win, stride=stride)
    canon = wins.groupBy("fp").agg(F.min("doc_id").alias("dup_of"))
    hits = (
        wins.join(canon, "fp")
        .filter(F.col("doc_id") > F.col("dup_of"))
        .select("doc_id", "dup_of", "ws")
    )
    from pyspark.sql import Window as W

    run = F.expr(f"ws div {stride}") - F.row_number().over(
        W.partitionBy("doc_id", "dup_of").orderBy("ws")
    )
    return (
        hits.withColumn("g", run)
        .groupBy("doc_id", "dup_of", "g")
        .agg(
            F.min("ws").alias("span_start"),
            (F.max("ws") + win).cast("int").alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("g")
    )


def strip_dup_segments(df: DataFrame, id_col: str, text_col: str,
                       win: int = 20, stride: int = 10) -> DataFrame:
    """The consumer of ``segment_dup_spans``: every document re-emitted with
    its duplicated token spans REMOVED — the pass a training-data pipeline
    actually runs after span detection (keep the first occurrence, strip the
    repeats from later docs).

    Returns (doc_id, text_clean, n_kept, n_dropped) for EVERY input doc:
    text_clean = the normalized tokens outside every detected span, joined
    by single spaces (docs with no detected spans keep their full normalized
    token stream); n_dropped counts the stripped tokens. Overlapping spans
    from different canonical owners union naturally — a token inside ANY
    span is dropped.

    Scale shape: segment detection's shuffles plus ONE doc-keyed left join
    (spans aggregate to a per-doc list first, so the join is 1:1) and a
    per-row token filter over that bounded span list. The span list and
    token array are materialized as real columns before the lambda filter —
    inlining them would re-evaluate the split per token (the modal-bigram
    lesson, BASELINE.md round-5)."""
    spans = segment_dup_spans(df, id_col, text_col, win=win, stride=stride)
    return _strip_spans(df, id_col, text_col, spans)


def strip_dup_chunks(df: DataFrame, id_col: str, text_col: str,
                     avg_chunk: int = 8, min_tokens: int = 5,
                     window_k: int = 3) -> DataFrame:
    """The consumer of ``cdc_dup_chunks`` — ``strip_dup_segments`` with the
    CONTENT-DEFINED detector: duplicated chunks (shift-robust boundaries)
    are removed from later docs, first occurrence kept. Same output schema
    and scale shape as the stride consumer; use this one when the curation
    tier runs ``segment_scheme="cdc"`` so the cleaned text matches the
    coverage decision."""
    chunks = cdc_dup_chunks(df, id_col, text_col, avg_chunk=avg_chunk,
                            min_tokens=min_tokens, window_k=window_k)
    return _strip_spans(
        df, id_col, text_col,
        chunks.select(
            "doc_id",
            F.col("chunk_start").alias("span_start"),
            F.col("chunk_end").alias("span_end"),
        ),
    )


_STRIP_COLS: dict[str, "F.Column"] = {}


def _strip_spans(df: DataFrame, id_col: str, text_col: str,
                 spans: DataFrame) -> DataFrame:
    """Shared strip body: remove token positions covered by any
    (doc_id, span_start, span_end) row — see ``strip_dup_segments``.

    The lambda columns reference only the fixed internal names (_t,
    _spans, _kept), so they are built once per process and reused (the
    annotate_gates memo rule: immutable expression trees, never data) —
    this body runs per curation call AND per incremental batch."""
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(normalized(F.col(text_col)), " ").alias("_t"),
    )
    kept_col = _STRIP_COLS.get("kept")
    if kept_col is None:
        indexed = F.transform(
            F.col("_t"), lambda x, i: F.struct(x.alias("tok"), i.alias("pos"))
        )
        in_any_span = lambda s: F.coalesce(  # noqa: E731
            F.exists(
                F.col("_spans"),
                lambda sp_: (s["pos"] >= sp_["span_start"])
                & (s["pos"] < sp_["span_end"]),
            ),
            F.lit(False),  # no spans for this doc -> keep everything
        )
        kept_col = F.filter(indexed, lambda s: ~in_any_span(s))
        _STRIP_COLS["kept"] = kept_col
        _STRIP_COLS["clean"] = F.concat_ws(
            " ", F.transform("_kept", lambda s: s["tok"])
        )
    return (
        base.join(sp, "doc_id", "left")
        .withColumn("_kept", kept_col)
        .select(
            "doc_id",
            _STRIP_COLS["clean"].alias("text_clean"),
            F.size("_kept").cast("bigint").alias("n_kept"),
            (F.size("_t") - F.size("_kept")).cast("bigint").alias("n_dropped"),
        )
    )


def cdc_dup_chunks(df: DataFrame, id_col: str, text_col: str,
                   avg_chunk: int = 8, min_tokens: int = 5,
                   window_k: int = 3) -> DataFrame:
    """CONTENT-DEFINED chunking dedup: shared chunks across documents where
    chunk boundaries derive from token content, not positions — the
    shift-robust complement to ``segment_dup_spans``. A token inserted at
    the head of a copied paragraph shifts every stride-grid window off
    alignment (the fixed-window scheme finds nothing), but leaves every
    content-defined boundary after it untouched, so the copied chunks still
    collide (the classic CDC argument from storage dedup, re-expressed over
    token streams).

    Boundary rule: token i STARTS a new chunk when
    ``int(md5(tok[i-k+1] .. tok[i] joined by ' ')[:4], 16) % avg_chunk == 0``
    with ``k = window_k`` — a rolling k-token window, the token-stream form
    of classic CDC's Rabin window (md5 of the joined window instead of a
    Rabin fingerprint keeps it bit-identical in Spark and DuckDB, so the
    oracle reproduces boundaries exactly). Hashing a k-token CONTEXT rather
    than the single token matters on real corpora: with k=1 a corpus-common
    token ('the') is globally always-or-never a boundary, so a doc repeating
    one boundary token degenerates to all-1-token chunks (all dropped by
    ``min_tokens``) and a doc with no boundary token forms one giant chunk —
    chunk length becomes content-pathological instead of ~``avg_chunk``.
    With k>=2 the boundary depends on the local context, restoring the
    ~geometric chunk-length distribution wherever context varies (a doc
    that is literally ONE token repeated stays degenerate under any
    content-defined rule — its content is constant; ``min_tokens`` bounds
    that residual case, as classic CDC's min-chunk floor does). The first
    ``k-1`` tokens of a doc have no full window and are never boundaries
    (they belong to the head chunk). ``window_k=1`` recovers the
    single-token rule. Chunks shorter than ``min_tokens`` are noise and are
    dropped before the join.

    Returns (doc_id, dup_of, chunk_start, chunk_end, n_tokens): token-index
    chunk [chunk_start, chunk_end) of ``doc_id`` whose exact token sequence
    also appears as a chunk of the earlier doc ``dup_of`` (global min doc
    per chunk fingerprint, the segment_dup_spans convention).

    Scale shape: the boundary lags ride the same per-doc window partitioning
    as the cumulative sum (doc-sized partitions, one shuffle), then one
    (doc, chunk) groupBy with map-side partial agg, one skew-proof
    canonical-owner groupBy on the fingerprint, one fp equi-join."""
    chunks = cdc_chunk_fingerprints(df, id_col, text_col,
                                    avg_chunk=avg_chunk,
                                    min_tokens=min_tokens,
                                    window_k=window_k)
    canon = chunks.groupBy("fp").agg(F.min("doc_id").alias("dup_of"))
    return (
        chunks.join(canon, "fp")
        .filter(F.col("doc_id") > F.col("dup_of"))
        .select("doc_id", "dup_of", "chunk_start", "chunk_end", "n_tokens")
    )


def cdc_chunk_fingerprints(df: DataFrame, id_col: str, text_col: str,
                           avg_chunk: int = 8, min_tokens: int = 5,
                           window_k: int = 3) -> DataFrame:
    """(doc_id, chunk_start, chunk_end, n_tokens, fp) content-defined chunk
    fingerprints — the shared signature step of ``cdc_dup_chunks`` (batch)
    and the streaming segment store's ``scheme="cdc"`` route (boundary rule
    in the cdc_dup_chunks docstring)."""
    from pyspark.sql import Window as W

    if avg_chunk < 1 or min_tokens < 1 or window_k < 1:
        raise ValueError(
            f"need avg_chunk >= 1, min_tokens >= 1 and window_k >= 1, "
            f"got {avg_chunk}/{min_tokens}/{window_k}"
        )
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    wtext = F.concat_ws(
        " ",
        *[F.lag("tok", j).over(wdoc) for j in range(window_k - 1, 0, -1)],
        F.col("tok"),
    )
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(normalized(F.col(text_col)), " "))
            .alias("pos", "tok"),
        )
        .withColumn(
            "b",
            (
                (F.col("pos") >= window_k - 1)
                & (
                    F.conv(F.substring(F.md5(wtext), 1, 4), 16, 10)
                    .cast("int")
                    % avg_chunk
                    == 0
                )
            ).cast("int"),
        )
        .withColumn(
            "chunk_id",
            F.sum("b").over(
                W.partitionBy("doc_id").orderBy("pos")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    chunks = (
        toks.groupBy("doc_id", "chunk_id")
        .agg(
            F.min("pos").alias("chunk_start"),
            (F.max("pos") + 1).cast("int").alias("chunk_end"),
            F.count("*").alias("n_tokens"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("fp"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
        .withColumn("chunk_start", F.col("chunk_start").cast("int"))
    )
    return chunks.select("doc_id", "chunk_start", "chunk_end", "n_tokens", "fp")
