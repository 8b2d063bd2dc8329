"""Deduplication operators for large-scale text corpora.

Five tiers, each a different cost/recall point; all deterministic and
UDF-free (built-in functions only) so they codegen and scale:

- **exact**: hash-groupBy on a normalized-text fingerprint. One
  shuffle on the 128-bit hash; at 100 TB this is the cheapest pass and
  always runs first.
- **n-gram Jaccard**: token-shingle sets, candidate pairs by shared
  shingle (blocking), exact Jaccard on candidates. Quadratic only
  within a block; used on small/medium corpora or downstream of LSH.
- **MinHash + LSH**: k permutation-style hashes over shingles → band
  signatures → bucket join. Near-dup recall at linear cost — the
  100 TB path. Hashing is (a·x + b) mod p over a 28-bit md5-derived
  shingle id (see the overflow note below — a wider id would overflow
  the int64 product on engines that raise instead of wrap). Candidate
  recall vs exact Jaccard ground truth is GATED with a floor
  (q_dedup_lsh_recall) — the sketch is measured, not assumed.
- **SimHash**: 60-bit bitwise-majority fingerprint (15 hex digits —
  the widest md5 prefix that stays exact in every engine's int64);
  hamming-close pairs via band buckets. Cheapest near-dup signal.
- **span removal**: C4's remove-all-but-one rule on duplicated n-word
  spans (`remove_duplicate_spans`) — the SUBSTRING tier that
  document-level dedup cannot see; linear in corpus words.

(Embedding-cosine near-dup and SemDeDup semantic dedup live in
operators/similarity.py.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from matdb_spark.sources.tables import read_parquet_cached_schema as _rp

from matdb_spark.functions.text import fingerprint, hash64, hash_hex, normalize

# Fixed, public hash-family parameters, reproducible in any engine.
# All values stay below 2^31 so a*h+b with a 28-bit shingle hash fits
# in a signed 64-bit integer without overflow (engines differ on
# overflow behavior: Spark wraps, DuckDB raises).
MERSENNE_P = (1 << 31) - 1
_SEED_A = 2654435761  # Knuth multiplicative hashing constant
_SEED_B = 2246822519  # xxHash prime


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for k hash functions, each < 2^31."""
    out = []
    for i in range(k):
        a = (_SEED_A * (i + 1)) % MERSENNE_P
        b = (_SEED_B * (i + 1)) % MERSENNE_P
        out.append((a | 1, b))
    return out


def shingles_from_words(words: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from a word-array column.

    ``words`` MUST be a materialized attribute (a projected column),
    not an inline ``split(...)`` expression: expressions referenced
    inside a higher-order-function lambda are re-evaluated per element,
    so an inline split makes shingling O(doc_len²). See word_shingles.
    """
    count = F.greatest(F.size(words) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), count - 1)
    shingle = lambda i: F.concat_ws(" ", *[F.get(words, i + j) for j in range(n)])
    return F.array_distinct(
        F.when(count > 0, F.transform(idx, shingle)).otherwise(F.array().cast("array<string>"))
    )


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(__id, __s) — one row per distinct n-word shingle per document.

    Two-phase on purpose: project the split word array first (one
    regexp+split per row — CollapseProject keeps it materialized
    because it is non-cheap and multiply-referenced), then shingle from
    the attribute. Collapsing these into one expression re-runs the
    split per lambda element and turns shingling quadratic in document
    length (measured 12.4 s → 0.9 s for 260k shingles at sf0.1).
    """
    words = df.select(
        F.col(id_col).alias("__id"), F.split(normalize(F.col(text_col)), " ").alias("__w")
    )
    return words.select("__id", F.explode(shingles_from_words(F.col("__w"), n)).alias("__s"))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles of the normalized text (array<string>).
    Convenience single-expression form — prefer shingle_rows for
    anything hot (see that docstring for the quadratic-eval trap)."""
    return shingles_from_words(F.split(normalize(text), " "), n)


# ---------------------------------------------------------------- exact
def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, canonical_id, cluster_size) per row: rows sharing a
    normalized-text fingerprint cluster together; the smallest id is
    canonical. One shuffle on the fingerprint.

    NULL-text documents are each their own singleton cluster: their
    fingerprint is NULL, and Window.partitionBy groups NULLs together
    — without the per-doc fallback key, every missing-text document
    would land in ONE bogus cluster and a keep-canonical pass would
    delete all but one of them."""
    fp = df.select(
        F.col(id_col),
        F.coalesce(
            fingerprint(F.col(text_col)),
            F.concat(F.lit("__null__"), F.col(id_col).cast("string")),
        ).alias("__fp"),
    )
    w = Window.partitionBy("__fp")
    return (
        fp.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select(id_col, "canonical_id", "cluster_size")
    )


# ------------------------------------------------------- n-gram Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over n-word shingles for candidate pairs that
    share at least one shingle. Returns (id_a, id_b, jaccard) with
    id_a < id_b and jaccard >= threshold.

    Scale note: blocking by shared shingle bounds the pair space to
    co-occurring docs; for web-scale corpora run minhash_lsh_pairs
    first and feed its candidates here as the verify step.
    """
    # Join on a 60-bit hash of the shingle, not the string: the
    # candidate self-join shuffles longs instead of arbitrary-length
    # text (~10× less shuffle volume on prose shingles). Within-doc
    # hash collisions are ~|shingles|²/2⁶¹ and the oracle hashes
    # identically, so parity is exact by construction.
    # Carry the per-doc shingle-set size THROUGH the exploded relation
    # (it is just size() of the already-distinct shingle array, known
    # before the explode): the previous separate sizes aggregation +
    # two joins made the non-reusable shingle pipeline evaluate three
    # times (self-join sides + sizes); this shape evaluates it twice
    # (the self-join minimum) and drops two joins and a shuffle.
    words = df.select(
        F.col(id_col).alias("__id"),
        F.split(normalize(F.col(text_col)), " ").alias("__w"),
    )
    arrs = words.select("__id", shingles_from_words(F.col("__w"), n).alias("__arr"))
    # explode_outer, NOT explode: InferFiltersFromGenerate turns a
    # non-outer explode of an ATTRIBUTE into a size(..)>0 filter that
    # predicate-pushdown then inlines through the projections all the
    # way to the scan — re-evaluating the whole shingle construction
    # (split per array access, O(len²)) once more per row (measured
    # 9.8 s vs 1.9 s at sf0.1). The rule skips outer generates; empty
    # shingle arrays yield a null __s dropped by the cheap filter.
    sh = (
        arrs.select(
            "__id", F.size("__arr").alias("__sz"), F.explode_outer("__arr").alias("__s")
        )
        .filter(F.col("__s").isNotNull())
        .select("__id", "__sz", hash64(F.col("__s")).alias("__h"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.__h") == F.col("b.__h")) & (F.col("a.__id") < F.col("b.__id")))
        .groupBy(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__sz").alias("__sa"),
            F.col("b.__sz").alias("__sb"),
        )
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    out = (
        inter.withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__sa") + F.col("__sb") - F.col("__inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 10,
) -> DataFrame:
    """Span-level (substring) deduplication: remove every corpus-wide
    DUPLICATED n-word span except its first occurrence — the
    n-gram-window transcription of C4's "remove all but one of any
    three-sentence span occurring more than once" (Raffel et al. 2020,
    §2.2) and the practical approximation of suffix-array substring
    dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better"). Document-level dedup misses this class
    entirely: boilerplate shared across otherwise-distinct pages.

    Rule: an occurrence of an n-word span is a KEEPER iff it is the
    (doc, position)-lexicographic first among all occurrences of that
    span. Every word position covered by a NON-keeper occurrence of a
    duplicated span is removed; the surviving words are reassembled in
    order. Overlapping duplicated spans compose naturally — a run of
    L >= n duplicated words is covered by its L-n+1 windows.

    Returns (id, n_words, n_removed, clean_text) for every input row.

    Scale shape: the occurrence relation is ~total_words rows of
    (id, pos, 60-bit hash); one groupBy(hash) finds duplicated spans
    and their keepers, one hash-keyed join marks non-keeper
    occurrences, and the rebuild is a groupBy(id). No pairwise term
    anywhere — cost is linear in corpus words, the property that makes
    span dedup runnable where suffix arrays are not.
    """
    words = df.select(
        F.col(id_col).alias("__id"),
        F.split(normalize(F.col(text_col)), " ").alias("__w"),
    )
    # span start positions are 1-based; docs shorter than n emit none
    # (sequence(1, size-n+1) would run DESCENDING for size < n — the
    # when() guard is load-bearing, not cosmetic)
    starts = F.when(
        F.size("__w") >= n, F.sequence(F.lit(1), F.size("__w") - F.lit(n - 1))
    )
    occ = (
        words.select("__id", "__w", F.explode(starts).alias("__pos"))
        .select(
            "__id",
            "__pos",
            hash64(F.array_join(F.slice("__w", F.col("__pos"), n), " ")).alias(
                "__h"
            ),
        )
    )
    dups = (
        occ.groupBy("__h")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(
                F.struct(F.col("__id").alias("d"), F.col("__pos").alias("p"))
            ).alias("__keep"),
        )
        .filter(F.col("__c") > 1)
        .select("__h", "__keep")
    )
    nonkeep = (
        occ.join(dups, "__h")
        .filter(
            ~(
                (F.col("__id") == F.col("__keep.d"))
                & (F.col("__pos") == F.col("__keep.p"))
            )
        )
        .select("__id", "__pos")
    )
    # Removed-position SET per document, then a PER-ROW filtered
    # reconstruction over the original word array. The previous
    # rebuild exploded EVERY word position of EVERY document
    # (~total_words rows), anti-joined the cover, and re-assembled
    # docs with a collect_list + array_sort aggregation — two extra
    # corpus-words-sized exchanges, and per-doc aggregation buffers
    # holding every surviving word (the r10 kernel probe measured the
    # operator anti-scaling with cores at 1M docs: 22.6 s at 8 cores
    # vs 29.3 s at 32 — 32 concurrent collect_list buffers in one
    # local JVM are a §5 memory story, not a compute one). Here the
    # only post-cover shuffles are the cover's own distinct-set
    # aggregation (removed positions only — a small fraction of
    # corpus words) and one id-keyed join back to the word arrays;
    # word order is preserved by construction, so clean_text is
    # byte-identical to the sort-based rebuild (guard test +
    # oracle-verified).
    removed = nonkeep.select(
        F.col("__id").alias("__cid"),
        F.explode(
            F.sequence(F.col("__pos"), F.col("__pos") + F.lit(n - 1))
        ).alias("__p"),
    ).groupBy("__cid").agg(F.collect_set("__p").alias("__rm"))
    joined = words.join(
        removed, F.col("__id") == F.col("__cid"), "left"
    )
    # positions are 1-based; filter's index lambda variable is 0-based
    kept_arr = F.when(F.col("__rm").isNull(), F.col("__w")).otherwise(
        F.filter(
            F.col("__w"),
            lambda x, i: ~F.array_contains(F.col("__rm"), i + 1),
        )
    )
    return joined.select(
        F.col("__id").alias(id_col),
        F.size("__w").cast("long").alias("n_words"),
        (F.size("__w") - F.size(kept_arr)).cast("long").alias("n_removed"),
        F.coalesce(F.array_join(kept_arr, " "), F.lit("")).alias("clean_text"),
    )


def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 2,
    sep: str = "\n",
    keep_first: bool = False,
    carry: tuple[str, ...] = (),
    scope: str = "corpus",
) -> DataFrame:
    """Corpus-wide exact LINE deduplication — the RefinedWeb /
    MassiveWeb boilerplate scrub (Penedo et al. 2023 §3.4; Rae et al.
    2021 A1.2): any line whose trimmed text occurs at least
    ``min_count`` times ACROSS THE CORPUS is removed from every
    document that contains it (all copies go — navigation bars,
    cookie banners, copyright footers carry no training signal even
    once per page). Documents are reassembled from the surviving
    lines in their original order.

    ``carry`` names per-document columns of ``df`` to pass through to
    the output (first()-aggregated in the rebuild — they are constant
    per id by contract). In a composed pipeline this is what keeps the
    operator single-pass: joining the extras back afterwards would
    re-execute the whole upstream chain for the second consumer.

    ``keep_first=True`` switches to the Dolma-paragraph convention:
    the (doc, position)-lexicographically FIRST occurrence of a
    frequent line survives, only the later copies are removed — the
    right call when the duplicated unit is content (a quote, a
    paragraph syndicated across pages), not boilerplate.

    ``scope="document"`` restricts counting to WITHIN each document
    (Dolma's within-doc paragraph dedup: a page that repeats its own
    disclaimer keeps one copy): frequency groups by (doc, line) and
    the first in-document occurrence always survives (keep_first is
    implied — removing every copy including the first would gut
    legitimately repeated content). Within-doc dedup never needs the
    corpus-wide shuffle: the count and keeper derive per document.

    This is the line-boundary complement of remove_duplicate_spans:
    spans catch shared n-word runs inside prose; line dedup catches
    whole boilerplate units at markup boundaries, at a fraction of the
    cost (one row per LINE, not one per word position).

    Returns (id, n_lines, n_removed, clean_text) for every input row.

    Scale shape: explode to ~total_lines rows carrying a 60-bit line
    hash, one groupBy(hash) marks frequent lines, one hash-keyed flag
    join back onto the same partitioning (exchange-reusable), and ONE
    groupBy(id) produces counts and rebuilt text together. One scan of
    the input, linear in corpus lines, no pairwise term — the same
    budget class as exact_duplicates.
    """
    # \Q...\E: split()'s pattern is a Java regex — quote the separator
    # so a '.' or '|' separator splits literally, not as a metachar;
    # NULL pages coalesce to '' (one empty line) so they flow through
    # the rebuild instead of yielding NULL counts
    sep_pat = f"\\Q{sep}\\E"
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c) for c in carry],
        F.posexplode(F.split(text, sep_pat)).alias("__pos", "__line"),
    ).withColumn("__h", hash64(F.trim(F.col("__line"))))
    # One scan, one flag, one rebuild: the frequent-line relation joins
    # back onto the SAME __h-keyed lines (both sides hash-partition on
    # __h — the aggregation's exchange is reusable for the join), each
    # line gets a dropped flag, and a single groupBy(__id) yields the
    # count, the removed count, and the rebuilt text together. No
    # anti-join and no restore join: split() always emits >= 1 line,
    # so every input row reaches the rebuild (a fully-boilerplate page
    # rebuilds to an EMPTY clean_text — the remove_duplicate_spans
    # contract). This matters in composed pipelines (q_scrub_pipeline)
    # where the input is an expensive derived relation: the earlier
    # anti-join shape consumed the input twice and re-ran the whole
    # upstream chain per consumer.
    if scope not in ("corpus", "document"):
        raise ValueError(f"scope must be 'corpus' or 'document', got {scope!r}")
    within_doc = scope == "document"
    first_wins = keep_first or within_doc
    group_keys = ["__id", "__h"] if within_doc else ["__h"]
    agg_cols = [F.count(F.lit(1)).alias("__c")]
    if first_wins:
        agg_cols.append(
            F.min(
                F.struct(F.col("__id").alias("d"), F.col("__pos").alias("p"))
            ).alias("__keep")
        )
    frequent = (
        lines.groupBy(*group_keys)
        .agg(*agg_cols)
        .filter(F.col("__c") >= min_count)
        .drop("__c")
    )
    marked = lines.join(
        frequent.withColumn("__f", F.lit(True)), group_keys, "left"
    )
    if first_wins:
        # the (doc, pos)-lexicographic first occurrence survives
        dropped = F.coalesce(F.col("__f"), F.lit(False)) & ~(
            (F.col("__id") == F.col("__keep.d"))
            & (F.col("__pos") == F.col("__keep.p"))
        )
    else:
        dropped = F.coalesce(F.col("__f"), F.lit(False))
    flagged = marked.select(
        "__id",
        *[F.col(c) for c in carry],
        "__pos",
        "__line",
        dropped.alias("__drop"),
    )
    out = flagged.groupBy("__id").agg(
        *[F.first(c).alias(c) for c in carry],
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__drop").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__drop"),
                            F.struct("__pos", "__line"),
                        )
                    )
                ),
                lambda s: s["__line"],
            ),
            sep,
        ).alias("clean_text"),
    )
    return out.select(
        F.col("__id").alias(id_col),
        *carry,
        "n_lines",
        "n_removed",
        "clean_text",
    )


# --------------------------------------------------------- MinHash+LSH
def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, sig: array<long>[k]) MinHash signatures over word shingles.

    h_i(s) = (a_i * hash28(s) + b_i) mod 2^31-1; signature[i] = min
    over the doc's shingles. Computed as k min-expressions over the
    exploded shingle relation → one groupBy(id) shuffle with partial
    min aggregation map-side.
    """
    params = minhash_params(k)
    sh = (
        shingle_rows(df, id_col, text_col, shingle_n)
        .withColumnRenamed("__id", id_col)
        .withColumn("__h", hash_hex(F.col("__s"), 7))
    )
    # each min agg is one parsed F.expr (the Column-composed form cost
    # ~10 ms of py4j per hash function — 0.4 s per plan build at k=32);
    # int*bigint arithmetic and the Mersenne mod are unchanged
    mins = sh.groupBy(id_col).agg(
        *[
            F.expr(f"min((`__h` * {a} + {b}) % {MERSENNE_P})").alias(f"__m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    return mins.select(
        F.col(id_col), F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sig")
    )


#: Default skew cap for LSH banding self-joins — the SQL oracle in
#: __spark_entry__ imports this so operator and oracle cannot diverge.
DEFAULT_MAX_BUCKET = 4096


def banded_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, band, key) LSH banding rows: the k-wide MinHash
    signature split into ``bands`` rows of k/bands hashes, key = the
    comma-joined band values. The shared building block for one-shot
    pair mining (minhash_lsh_pairs) and the persisted incremental
    index (write_minhash_index / pairs_against_index)."""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    r = k // bands
    sig = minhash_signatures(df, id_col, text_col, k, shingle_n)
    # one parsed expression for the whole band array (same 0-based
    # sig[] indexing and comma join as the Column-composed form)
    band_struct = F.expr(
        "array(" + ", ".join(
            "struct({bi} AS band, concat_ws(',', {parts}) AS key)".format(
                bi=bi,
                parts=", ".join(
                    f"CAST(`sig`[{bi * r + j}] AS STRING)" for j in range(r)
                ),
            )
            for bi in range(bands)
        ) + ")"
    )
    return sig.select(
        F.col(id_col).alias("doc_id"), F.explode(band_struct).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding: split the k-wide
    signature into ``bands`` rows of k/bands hashes, bucket on the
    band value, emit co-bucketed pairs (id_a < id_b), distinct.

    This is the linear-cost 100 TB near-dup path: cost ~ docs × k for
    signatures + one shuffle per banding join (done as one explode +
    groupless equi-join on (band_idx, band_key)).

    ``max_bucket`` is the skew guard for the self-join: a bucket of n
    members emits n(n-1)/2 pairs, so one degenerate signature shared
    by a million boilerplate/empty documents would emit ~5·10^11 pairs
    from a single bucket. Buckets larger than ``max_bucket`` are
    dropped (a cheap size filter on the already-aggregated bucket
    row). Recall cost is small by construction — a true near-dup pair
    agrees on several bands, and degenerate giant buckets are
    precisely the boilerplate signatures you don't want driving
    clusters; byte-identical documents are the exact-dedup operator's
    job, not this one's. The cap is ON by default (4096 ≈ 8.4M pairs
    worst-case per bucket, bounded work per task at any corpus size);
    ``max_bucket=None`` opts out for small corpora where cap-free
    parity matters more than skew safety.
    """
    banded = banded_minhash(df, id_col, text_col, k, bands, shingle_n)
    return _pairs_from_banded(banded, max_bucket)


def _pairs_from_banded(banded: DataFrame, max_bucket: int | None) -> DataFrame:
    """(id_a, id_b) co-bucketed pairs from a (doc_id, band, key)
    banding relation — the back half of minhash_lsh_pairs, split out so
    admission can reuse an already-materialized banding."""
    banded = banded.select(
        F.col("doc_id").alias("__id"),
        F.col("band").alias("__band"),
        F.col("key").alias("__key"),
    )
    # Bucket-collect + in-array pair generation, NOT a banded self-join:
    # a self-join evaluates the whole signature pipeline (scan, shingle
    # explode, k-min aggregate, band explode) TWICE — the executed plan
    # showed no ReusedExchange and 2 FileScans (measured 3.3 s → 2.1 s
    # at sf0.1). Collecting each bucket's member ids instead computes
    # the pipeline once; pair emission streams from the bucket array
    # via generators (below), and the join shuffle disappears entirely.
    buckets = banded.groupBy("__band", "__key").agg(
        F.collect_list("__id").alias("__ids")
    )
    buckets = buckets.filter(F.size("__ids") >= 2)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("__ids") <= max_bucket)
    # materialize the sorted array as an attribute BEFORE the explodes
    # (the shingle_rows rule), then STREAM the C(m,2) pairs as rows via
    # posexplode + slice-explode. The previous form flattened all
    # m(m-1)/2 pair structs into ONE array value per bucket row —
    # at m≈65k that exceeds Spark's array-element limit outright, and
    # far below that a single row holding the whole quadratic blowup
    # OOMs the executor; generators instead emit pairs incrementally
    # (spillable), with transient memory O(m) per row, while the
    # signature pipeline is still evaluated exactly once (both
    # explodes consume the aggregation output).
    sorted_ids = buckets.select(F.array_sort("__ids").alias("__ids"))
    pairs = (
        sorted_ids.select(
            F.col("__ids"), F.posexplode(F.col("__ids")).alias("__i", "id_a")
        )
        .select(
            "id_a",
            F.explode(
                F.slice(F.col("__ids"), F.col("__i") + 2, F.size(F.col("__ids")))
            ).alias("id_b"),
        )
        .distinct()
    )
    return pairs


# ------------------------------------------- incremental MinHash index
def write_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's LSH banding rows (doc_id, band, key) as a
    parquet index, partitioned by band. This is what makes dedup
    INCREMENTAL at corpus scale: a new batch is checked by probing the
    index (pairs_against_index) instead of re-shingling and re-hashing
    the whole corpus per batch — the corpus pays for its signatures
    exactly once. Storage is docs x bands rows of (id, int, short
    string); rows are range-clustered by key within each band
    partition — that buys zstd dictionary/prefix compression on the
    key column and keeps any future key-predicate reader prunable,
    but the probe path itself filters via a broadcast semi-join and
    reads every row group."""
    _write_banded(
        banded_minhash(df, id_col, text_col, k, bands, shingle_n), path, mode
    )


def _write_banded(
    banded: DataFrame, path: str, mode: str, cluster: bool = True
) -> None:
    """``cluster=True`` (corpus builds): range-repartition on (band,
    key) so each band's files are globally key-sorted — best zstd
    locality and key-predicate prunability, at the cost of a range-
    boundary sampling job. ``cluster=False`` (admission appends of
    batch-sized slices): hash-repartition on band only, keys still
    sorted WITHIN files — same probe cost (the probe broadcast-filters
    every row group either way), no sampling job per append."""
    part = (
        banded.repartitionByRange("band", "key")
        if cluster
        else banded.repartition("band")
    )
    (
        part.sortWithinPartitions("band", "key")
        .write.partitionBy("band")
        .mode(mode)
        .parquet(path)
    )


def append_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> None:
    """Add a new batch's banding rows to an existing index (after the
    batch has been admitted): the standing corpus index grows by one
    append, never a rewrite. Parameters must match the original
    write_minhash_index call — keys from different (k, bands,
    shingle_n) settings never collide correctly."""
    write_minhash_index(
        df, path, id_col, text_col, k, bands, shingle_n, mode="append"
    )


def pairs_against_index(
    spark,
    path: str,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    materialize_batch: bool = True,
) -> DataFrame:
    """(new_id, corpus_id) candidate near-dup pairs between a new
    batch and the persisted corpus index. The 100 TB shape: the index
    is SCANNED once (three columns, band-partitioned) but never
    shuffled in full — the batch's (band, key) set is broadcast and
    the index is filtered by a broadcast semi-join, so only actual
    matches ever enter an exchange. Intra-batch duplicates are the
    one-shot operator's job (minhash_lsh_pairs on the batch).

    ``max_bucket`` mirrors minhash_lsh_pairs' skew guard: a (band,
    key) bucket whose total membership (batch + corpus matches)
    exceeds the cap is dropped entirely — one degenerate boilerplate
    signature would otherwise emit |batch_bucket| x |corpus_bucket|
    pairs from a single key.

    With the cap on, the index is scanned twice (a column-pruned
    counts pass decides which buckets survive, then the main pass
    reads only matching rows); the batch's signature pipeline runs
    ONCE — the banding relation is localCheckpoint'ed (admit_batch's
    pattern) and all three consumers (key set, counts, join side) read
    the materialized blocks. This trades the old fully-lazy plan
    (which re-derived the shingle → minhash pipeline per consumer —
    the r6 verdict's 21-exchange worst plan) for one batch-sized,
    ContextCleaner-collected materialization; an executor lost mid
    probe fails the query to a clean retry instead of recomputing,
    the same contract admission already chose. Pass
    ``materialize_batch=False`` to keep the pure-lineage plan."""
    nb = banded_minhash(new_df, id_col, text_col, k, bands, shingle_n)
    if materialize_batch:
        nb = nb.localCheckpoint()
    return _index_pairs_from_banded(spark, path, nb, max_bucket)


def _index_has_bands(spark, path: str) -> bool:
    """True iff ``path`` holds a banding index (at least one `band=`
    partition directory). Probed through the session's Hadoop
    FileSystem, NOT os.path: the index may live on any scheme the
    read side can reach (hdfs://, s3a://, ...), and a driver-local
    os.path probe would return False there — which admit_batch would
    translate into mode='overwrite', silently clobbering a standing
    index. With the FS probe, an unreachable/unreadable path RAISES
    instead of reading as absent, so detection failure can never
    become a destructive overwrite."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return False
    return any(
        st.getPath().getName().startswith("band=")
        for st in fs.listStatus(jpath)
    )


def _index_pairs_from_banded(
    spark,
    path: str,
    nb: DataFrame,
    max_bucket: int | None,
    reject_identity: bool = False,
) -> DataFrame:
    """pairs_against_index's core over an already-built (and ideally
    materialized) batch banding relation.

    ``reject_identity=False`` (the probe default) drops same-id
    (new, corpus) pairs — a doc appended to the index and then used
    as a probe is not a duplicate of itself. Admission passes True:
    there, a batch id already present in the index means the doc was
    already admitted, and the identity pair is exactly the rejection
    that makes replayed batches idempotent.

    The batch relation ``nb`` has THREE consumers here (broadcast key
    set, cap-count members, final join side); callers must pass it
    MATERIALIZED (localCheckpoint — admit_batch and pairs_against_index
    both do) or the whole shingle → minhash → band pipeline re-derives
    per consumer: the r6 verdict's worst-plan finding was exactly that
    (21 exchanges at the gate SF; plan-level exchange reuse cannot
    collapse them because each consumer prunes different columns,
    which de-canonicalizes the shared subtree)."""
    keys = nb.select("band", "key").distinct()
    idx = _rp(spark, path).select("doc_id", "band", "key")
    if max_bucket is not None:
        # COUNTS FIRST, arrays second: the cap must be decided before
        # any member list exists, or a degenerate boilerplate bucket
        # (millions of corpus rows behind one key) materializes as a
        # single aggregation-buffer array and OOMs the very task the
        # cap exists to protect. countDistinct is two-phase (expand +
        # partial agg on (key, doc_id)) — uniform however skewed the
        # bucket. It runs over the UNION of both sides so a doc id
        # present in batch AND index (a crash-replayed batch) counts
        # ONCE: summing per-side counts would double it, pushing an
        # under-cap bucket past the cap on replay and silently
        # suppressing exactly the identity rejections reject_identity
        # relies on (and with it, admitting real near-dups). Distinct
        # ids also keep duplicate index rows from inflating buckets.
        # Cost: the cap pass is a second, column-pruned scan of the
        # index; both scans stay lazy (no pinned blocks, executor loss
        # recomputes) and broadcast-filtered (never shuffled in full).
        members = idx.join(
            F.broadcast(keys), ["band", "key"], "leftsemi"
        ).unionByName(nb.select("doc_id", "band", "key"))
        ok = (
            members.groupBy("band", "key")
            .agg(F.count_distinct("doc_id").alias("__n"))
            .filter(F.col("__n") <= F.lit(max_bucket))
            .select("band", "key")
        )
    else:
        ok = keys
    # main pass: the full index flows through a map-side broadcast
    # semi filter (under-cap matched keys only), no exchange of the
    # corpus side; distinct() drops crash-replay duplicate rows
    hits = idx.join(F.broadcast(ok), ["band", "key"], "leftsemi").distinct()
    # bucket-collect BOTH sides (minhash_lsh_pairs' pattern) — every
    # surviving bucket is <= max_bucket members by construction
    hagg = hits.groupBy("band", "key").agg(
        F.collect_list("doc_id").alias("__cids")
    )
    bagg = nb.groupBy("band", "key").agg(
        F.collect_list("doc_id").alias("__bids")
    )
    buckets = hagg.join(bagg, ["band", "key"])
    # stream the |batch_bucket| x |corpus_bucket| pairs via two
    # explodes (transient memory O(bucket), spillable rows out)
    pairs = buckets.select(
        "__cids", F.explode("__bids").alias("new_id")
    ).select("new_id", F.explode("__cids").alias("corpus_id"))
    if not reject_identity:
        pairs = pairs.filter(F.col("new_id") != F.col("corpus_id"))
    return pairs.distinct()


def _admission_rejected_ids(
    spark,
    path: str,
    nb: DataFrame,
    max_bucket: int | None,
    reject_identity: bool,
    have_index: bool,
) -> DataFrame:
    """``__rid`` — the batch ids admission rejects, as ONE bucket
    aggregation (r5 verdict item 7; replaces intra-pairs + cross-pairs
    + union + distinct — the pair LISTS were never needed, only the
    per-document verdict). Per (band, key) bucket the aggregate carries
    everything both rejection rules read:

    - intra (smaller-id batchmate): batch id > min(batch ids in
      bucket), under the batch-side cap (``__nb <= max_bucket`` —
      _pairs_from_banded's rule);
    - cross (previously-admitted co-occupant): any corpus member
      exists — identity included when ``reject_identity`` (replayed
      batches become no-ops), else a corpus member OTHER than self —
      under the union-distinct cap (``__nu <= max_bucket`` —
      _index_pairs_from_banded's rule, where a doc present on both
      sides counts once).

    Cost shape: the index is scanned ONCE (column-pruned, broadcast
    semi-filtered to the batch's keys — never shuffled in full), one
    hash aggregation over bucket rows, one join of the batch banding
    against the bucket verdict relation. The previous form scanned the
    index twice (cap pass + member pass) and ran four more shuffles
    (two collect_list aggs, a pair join, a union-distinct)."""
    bm = nb.select("band", "key", "doc_id", F.lit(0).alias("__src"))
    if have_index:
        keys = nb.select("band", "key").distinct()
        idx = (
            _rp(spark, path)
            .select("band", "key", "doc_id")
            .join(F.broadcast(keys), ["band", "key"], "leftsemi")
            .select("band", "key", "doc_id", F.lit(1).alias("__src"))
        )
        members = bm.unionByName(idx)
    else:
        members = bm
    batch_id = F.when(F.col("__src") == 0, F.col("doc_id"))
    corpus_id = F.when(F.col("__src") == 1, F.col("doc_id"))
    g = members.groupBy("band", "key").agg(
        F.count_distinct("doc_id").alias("__nu"),
        F.count_distinct(batch_id).alias("__nb"),
        F.min(batch_id).alias("__mn0"),
        F.count_distinct(corpus_id).alias("__c1"),
        F.min(corpus_id).alias("__cmin"),
    )
    under = (lambda c: F.lit(True)) if max_bucket is None else (
        lambda c: c <= F.lit(max_bucket)
    )
    intra = under(F.col("__nb")) & (F.col("doc_id") > F.col("__mn0"))
    if reject_identity:
        near_corpus = F.col("__c1") > 0
    else:
        near_corpus = (F.col("__c1") >= 2) | (
            (F.col("__c1") == 1) & (F.col("__cmin") != F.col("doc_id"))
        )
    cross = under(F.col("__nu")) & near_corpus
    return (
        nb.join(g, ["band", "key"])
        .filter(intra | cross)
        .select(F.col("doc_id").alias("__rid"))
        .distinct()
    )


def admit_batches(
    spark,
    path: str,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_batches: int,
    batch_fn,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """The full sequential admission lifecycle over ``n_batches``
    disjoint batches of ``docs`` with ONE Spark job per batch —
    decide + index-append FUSED into the append write (r10; the
    per-batch ``admit_batch`` shape ran TWO actions per batch: an
    admitted-id localCheckpoint to pin the decision before the index
    mutates, then the append job).

    ``batch_fn(Column) -> Column`` maps an id to its batch number in
    ``0..n_batches-1`` (a pure expression, e.g. ``id % n_batches``).
    Returns (``id_col``, ``admitted_in_batch`` int) for every admitted
    document — bit-identical to chaining ``admit_batch`` per batch and
    unioning (pinned by tests/test_opt_r10.py).

    How the fusion stays correct without the per-batch checkpoint:
    each batch's rejection relation (_admission_rejected_ids) reads
    the index lazily, but here its ONLY consumer is the append write
    job itself, which executes — and therefore pins the decision —
    BEFORE the directory gains this batch's files (the scan's file
    listing is snapshotted when the read DataFrame is built, before
    the write starts). The returned frame never embeds a per-batch
    decision plan at all: it re-derives admitted ids from the FINAL
    index (admitted == appended), plus the docs too short to shingle
    (no banding rows, so never rejected), which is exact because this
    lifecycle starts from an empty/absent index and ``batch_fn``
    partitions ids disjointly — the preconditions this operator
    declares (a replayed/pre-populated index needs admit_batch's
    reject_identity contracts instead).

    Signatures are still ONE corpus-sized job: the banding relation is
    computed once and checkpointed, each batch filters its slice
    (admit_batch's ``banded`` treatment)."""
    if _index_has_bands(spark, path):
        raise ValueError(
            f"admit_batches requires a fresh index path (found band "
            f"partitions at {path}); replay semantics live in admit_batch"
        )
    banded_all = banded_minhash(
        docs, id_col, text_col, k, bands, shingle_n
    ).localCheckpoint()
    # docs too short to shingle (fewer than shingle_n words — the
    # ``count`` of shingles_from_words, same normalize+split) have no
    # banding rows, so nothing can reject them: admit_batch admits them
    # in their own batch. A per-row filter, not an anti-join against
    # banded_all (which would shuffle the corpus's ids at scale), pinned
    # like banded_all so the returned plan reads no docs.
    gramless = docs.filter(
        F.coalesce(F.size(F.split(normalize(F.col(text_col)), " ")), F.lit(0))
        < shingle_n
    ).select(F.col(id_col).alias("doc_id")).localCheckpoint()
    for b in range(n_batches):
        nb = banded_all.filter(batch_fn(F.col("doc_id")) == F.lit(b))
        # an earlier batch with no banding rows (no docs, or only docs
        # too short to shingle) writes a directory without band= dirs
        have_index = b > 0 and _index_has_bands(spark, path)
        rejected = _admission_rejected_ids(
            spark, path, nb, max_bucket, True, have_index
        )
        adm_banded = nb.join(
            rejected, F.col("doc_id") == F.col("__rid"), "left_anti"
        )
        # ONE action per batch: the bucket aggregation, the admitted
        # anti-join, and the partitioned index append all run inside
        # this write job. Appends skip the range-clustered layout for
        # batch-sized slices (admit_batch's rule).
        _write_banded(
            adm_banded,
            path,
            "append" if have_index else "overwrite",
            cluster=not have_index,
        )
    # every admitted doc with shingles has exactly ONE banding row per
    # band, so the band=0 partition alone IS that admitted id set —
    # partition-pruned single-band scan, no distinct, zero exchanges in
    # the returned plan (a distinct over the full index would shuffle
    # doc_ids of the whole admitted corpus at scale for nothing)
    idx_ids = gramless
    if _index_has_bands(spark, path):
        banded_ids = _rp(spark, path).filter(F.col("band") == 0).select("doc_id")
        idx_ids = banded_ids.unionByName(gramless)
    return idx_ids.select(
        F.col("doc_id").alias(id_col),
        batch_fn(F.col("doc_id")).cast("int").alias("admitted_in_batch"),
    )


def admit_batch(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    append: bool = True,
    reject_identity: bool = True,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Admission-control dedup for a standing corpus: returns the
    subset of ``batch`` that is NOT a near-duplicate of anything
    already admitted (per the persisted index at ``path``) nor of a
    smaller-id document in the same batch, and (by default) appends
    the survivors' banding rows so the next batch is checked against
    them. Chain batches of an arriving corpus through this and the
    admitted set stays near-dup-free at O(batch + index-scan) per
    batch — the streaming form of one-shot dedup.

    Rejection is PAIRWISE and order-free: a document sharing an LSH
    bucket with a smaller-id batchmate is rejected even if that
    batchmate was itself rejected (conservative shadowing — simpler
    and deterministic vs. chasing rejection chains, and exactly what a
    SQL oracle can replay). A missing/empty index admits everything
    intra-novel and creates the index.

    ``reject_identity`` picks the replay contract. True (default, for
    one-shot callers): a batch id already present in the index counts
    as already admitted, so a replayed batch is a NO-OP — admits
    nothing, appends nothing. False (what stream_admission needs): a
    doc's identity match against its own index entry is ignored, so a
    replayed batch RE-DERIVES the same admitted set — required when a
    downstream commit is fenced separately (BatchReplayGuard) and a
    crash between index append and commit must not lose the batch's
    rows (the re-append only duplicates banding rows, which the probe
    de-duplicates).

    ``banded`` lets the caller bring the batch's OWN (doc_id, band,
    key) relation — computed with banded_minhash under the SAME
    (k, bands, shingle_n) and already materialized (checkpointed/
    cached). Signatures are the dominant per-batch cost; a pipeline
    that splits one arriving corpus into several admission batches can
    then hash it in ONE Spark job and filter per batch instead of
    paying one shingle+shuffle job per batch (the r5 q_dedup_admission
    audit: 3 banding jobs were ~half the lifecycle's wall time).
    """
    have_index = _index_has_bands(spark, path)
    if banded is not None:
        # caller-materialized relation; must match `batch`'s rows and
        # the hash parameters — admission math is identical from here
        nb = banded
    else:
        # ONE banding computation per batch: signatures are the batch's
        # dominant cost, and intra pairing, index probing, AND the
        # final index append all consume the same (doc_id, band, key)
        # relation — materialize it once instead of re-shingling per
        # consumer
        nb = banded_minhash(
            batch, id_col, text_col, k, bands, shingle_n
        ).localCheckpoint()
    rejected = _admission_rejected_ids(
        spark, path, nb, max_bucket, reject_identity, have_index
    )
    # Materialize the admitted ID SET before mutating the index: the
    # pairs plan reads the index directory the append below writes
    # into, so the index-dependent part of the decision must be pinned
    # first. Checkpointing only the ids (not the full batch rows) is
    # the cheap sufficient form — the returned frame is then
    # batch ⋉ admitted_ids, whose lineage touches ONLY the caller's
    # batch source and the checkpointed id set, never the index — so
    # it stays lazy, correct under the mutation, and free of a
    # text-column materialization the caller may never read (the r5
    # admission audit: checkpointing full document rows per batch was
    # a measurable slice of the lifecycle).
    adm_ids = (
        batch.select(F.col(id_col))
        .join(rejected, F.col(id_col) == F.col("__rid"), "left_anti")
        .localCheckpoint()
    )
    if append:
        # survivors' banding rows come from the already-materialized
        # relation — no re-shingling of the admitted text. Appends skip
        # the range-clustered layout (its boundary-SAMPLING job per
        # write is pure overhead for a batch-sized slice; the probe
        # reads every row group regardless — _write_banded docstring)
        adm_banded = nb.join(
            adm_ids.select(F.col(id_col).alias("doc_id")),
            "doc_id",
            "leftsemi",
        )
        _write_banded(
            adm_banded,
            path,
            "append" if have_index else "overwrite",
            cluster=not have_index,
        )
    return batch.join(adm_ids, [id_col], "leftsemi")


# -------------------------------------------------- cluster resolution
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
    _depth: int = 0,
) -> DataFrame:
    """(doc_id, cluster_id) for every node in ``pairs``: cluster_id is
    the minimum id in the node's connected component. Turns pairwise
    near-dup evidence (LSH/Jaccard output) into dedup clusters so one
    canonical document per cluster can be kept.

    Size-aware, three tiers:

    * ``<= driver_threshold`` edges: driver-side union-find — one
      collect of the already-tiny pair relation (candidate-pair lists
      are aggregates, orders of magnitude smaller than the corpus,
      which itself never moves).
    * Above it: PARTITION-LOCAL CONTRACTION. Range-partition the edge
      list, run an in-memory union-find inside each partition
      (``mapInPandas``, one Arrow pass), emit each partition's
      node→local-root forest, then glue partitions with one edge per
      conflicting (root, min-root) pair and recurse on that contracted
      graph — which is smaller by roughly the average local component
      size, so near-dup graphs (many small components, ids with
      locality) collapse in one or two levels. Every join and groupBy
      here keys on NODE IDS, which stay uniformly distributed no
      matter how lopsided the components are; this replaced a
      pointer-doubling label-propagation loop whose label-keyed join
      degenerated onto a handful of tasks once one label dominated
      (measured on a 1.2M-node chain: per-round join cost grew 1.2 s →
      14.5 s over the last four rounds, >100 s total vs <25 s for
      contraction).
    * If a level fails to shrink the graph (pathological partitioning),
      fall back to that label-propagation loop (`_label_propagation_cc`)
      — O(log diameter) rounds, slower but shape-independent.
    """
    edges = (
        pairs.select(
            F.least(F.col(id_a), F.col(id_b)).alias("s"),
            F.greatest(F.col(id_a), F.col(id_b)).alias("d"),
        )
        .distinct()
        .localCheckpoint()
    )

    n_edges = edges.count()
    if n_edges <= driver_threshold:
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        # collect, not toLocalIterator: the edge set is checkpointed and
        # under driver_threshold by construction; toLocalIterator fetches
        # the 32 partitions sequentially (one roundtrip each), which
        # dominated this operator's wall-clock
        for r in edges.collect():
            s, d = r["s"], r["d"]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                # union by min so the root IS the canonical (min) id
                lo, hi = (rs, rd) if rs < rd else (rd, rs)
                parent[hi] = lo
        from pyspark.sql.types import StructField, StructType

        id_type = pairs.schema[id_a].dataType
        schema = StructType(
            [StructField("doc_id", id_type), StructField("cluster_id", id_type)]
        )
        spark = pairs.sparkSession
        rows = [(n, find(n)) for n in parent]
        # driver-built frames carry no size statistics, so downstream
        # joins (resolve_clusters' verdict join, split assignment)
        # degrade to sort-merge — shuffling the CORPUS side against a
        # relation this tier guarantees is small (<= 2 nodes per edge,
        # edges <= driver_threshold by the branch condition). The hint
        # restores the broadcast join; the contraction tier below
        # returns an unhinted distributed frame, as its size is
        # unbounded.
        return F.broadcast(spark.createDataFrame(rows, schema))

    # ---- partition-local contraction ----
    import math

    from pyspark.sql.types import StructField, StructType

    id_type = pairs.schema[id_a].dataType
    map_schema = StructType(
        [StructField("node", id_type), StructField("root", id_type)]
    )
    real = edges.where(F.col("s") != F.col("d"))
    # size partitions so each in-memory union-find stays small; range
    # partitioning exploits id locality (near-dup pair generators emit
    # clustered ids), maximizing how much each local pass collapses
    npart = max(
        pairs.sparkSession.sparkContext.defaultParallelism,
        math.ceil(n_edges / 500_000),
    )

    def _forest(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for s, d in zip(pdf["s"].tolist(), pdf["d"].tolist()):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    lo, hi = (rs, rd) if rs < rd else (rd, rs)
                    parent[hi] = lo
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {"node": nodes, "root": [find(n) for n in nodes]}
            )

    m = (
        real.repartitionByRange(npart, "s", "d")
        .mapInPandas(_forest, schema=map_schema)
        .localCheckpoint()
    )
    # a node seen by several partitions has one local root per
    # partition; all of them are the same component, so one glue edge
    # per (root, min-root) conflict carries everything the original
    # edges said. groupBy/min partial-aggregates map-side — no skew
    # however lopsided the components.
    rstar = (
        m.groupBy("node").agg(F.min("root").alias("rstar")).localCheckpoint()
    )
    glue = (
        m.join(rstar, "node")
        .where(F.col("root") != F.col("rstar"))
        .select(F.col("rstar").alias("id_a"), F.col("root").alias("id_b"))
        .distinct()
        .localCheckpoint()
    )
    n_glue = glue.count()
    if n_glue > 0.8 * n_edges or _depth >= 8:
        # partitioning produced no meaningful contraction (or keeps
        # failing to): hand the CURRENT graph — never bigger than the
        # input — to the shape-independent label-propagation loop
        sub = _label_propagation_cc(glue, max_iter)
    else:
        sub = connected_components(
            glue, "id_a", "id_b", max_iter, driver_threshold, _depth + 1
        )
    sub = sub.select(
        F.col("doc_id").alias("__r"), F.col("cluster_id").alias("__c")
    )
    labels = (
        rstar.join(sub, rstar.rstar == F.col("__r"), "left")
        .select(
            F.col("node").alias("doc_id"),
            # roots untouched by any glue edge already ARE their
            # component's minimum
            F.coalesce(F.col("__c"), F.col("rstar")).alias("cluster_id"),
        )
    )
    # nodes that only ever appeared in self-pairs never reach a forest
    universe = (
        edges.select(F.col("s").alias("doc_id"))
        .union(edges.select(F.col("d").alias("doc_id")))
        .distinct()
    )
    missing = universe.join(labels, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    return labels.union(missing)


def _label_propagation_cc(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Min-label propagation with pointer doubling — the fallback for
    graphs that defeat partition-local contraction. O(log diameter)
    rounds; each round is two node-keyed joins + one groupBy, with
    ``localCheckpoint`` truncating lineage (without it the plan doubles
    per iteration and planning time explodes long before data size
    matters). Expects columns ``id_a``/``id_b``."""
    fwd = pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
    rev = pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("d"))
    # the edge relation is static across every round: hash-partition it
    # by the join key ONCE so the per-round neighbor join reshuffles
    # only the (smaller, changing) label side, never the edges
    edges = fwd.union(rev).distinct().repartition(F.col("d")).localCheckpoint()

    labels = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )

    from pyspark.sql.types import IntegralType

    # INTEGRAL ids only (long/int/short/byte): the decimal(38,0) cast
    # is exact for those, so sum-unchanged ⟺ no label changed. A
    # Float/Double id space can hold distinct labels that round to the
    # same integer — the sum would stop moving before the labels do,
    # declaring convergence with wrong cluster ids. Fractional,
    # decimal, and string ids all use the changed-row join instead.
    numeric_ids = isinstance(pairs.schema["id_a"].dataType, IntegralType)

    def _label_sum(df: DataFrame) -> tuple:
        # labels only ever DECREASE (every update is a least(...)), so
        # an unchanged sum ⟺ no label changed — convergence for the
        # price of one scan instead of a self-join + count per round.
        # decimal(38,0) so the sum is exact for any realistic id space.
        # Numeric ids only: casting a string label to decimal yields
        # NULL, the sum would be NULL every round, and the loop would
        # declare convergence after one iteration — string ids use the
        # changed-row join below instead.
        r = df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).first()
        return (r["s"], r["n"])

    def _changed(new_df: DataFrame, old_df: DataFrame) -> bool:
        return (
            new_df.alias("n")
            .join(old_df.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
            > 0
        )

    prev_sum = _label_sum(labels) if numeric_ids else None
    converged = False
    for _ in range(max_iter):
        prev_labels = labels
        neigh = (
            edges.join(labels, edges.d == labels.node)
            .groupBy("s")
            .agg(F.min("label").alias("__nmin"))
        )
        # checkpoint: the doubling join consumes its input TWICE (as
        # the rows and as the chain map) — unmaterialized, the whole
        # neighbor join + min-aggregate subtree would execute twice per
        # round whenever exchange reuse misses
        stepped = (
            labels.join(neigh, labels.node == neigh.s, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("__nmin"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # pointer doubling: adopt my label's label (labels are always
        # node ids of the same component, so the chain join hits);
        # this is what turns O(diameter) into O(log diameter). The
        # label-keyed join skews once one label dominates — that is why
        # this loop is the fallback, not the main path.
        chain = stepped.select(
            F.col("node").alias("__cn"), F.col("label").alias("__cl")
        )
        labels = (
            stepped.join(chain, stepped.label == F.col("__cn"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("__cl"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        if numeric_ids:
            cur_sum = _label_sum(labels)
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        elif not _changed(labels, prev_labels):
            converged = True
            break
    if not converged:
        # returning intermediate labels would silently split one real
        # component into several "canonical" documents
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(component diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


# ------------------------------------------------------------- SimHash
def resolve_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Per-document dedup VERDICT — the step after pair mining and
    clustering that a curation pipeline actually consumes: cluster the
    near-dup pairs into components, keep exactly ONE canonical member
    per cluster (highest ``quality_col``, ties to the lowest id), and
    return every input document as (id, cluster_id, canonical_id,
    kept). Documents in no pair are their own singleton cluster and
    always kept.

    ``quality_col`` should be integer-quantized upstream (the
    micro-unit convention) if cross-engine determinism matters —
    argmax over raw doubles ties unpredictably.

    Scale shape: components come from ``connected_components`` (the
    size-aware contraction); the canonical pick is one
    ``max_by`` aggregation over cluster_id (map-side partial, no
    ranking window), and the verdict join is id/cluster keyed. The
    corpus itself is scanned once.
    """
    cl = connected_components(pairs)
    base = df.select(F.col(id_col), F.col(quality_col).alias("__q"))
    withc = base.join(
        cl.withColumnRenamed("doc_id", "__cid"),
        F.col(id_col) == F.col("__cid"),
        "left",
    ).select(
        id_col,
        "__q",
        F.coalesce(F.col("cluster_id"), F.col(id_col)).alias("cluster_id"),
    )
    # canonical = argmax (quality, then LOWEST id): min_by on the
    # (-quality, id) struct — one hash aggregation, no window. The
    # negation sits on the quality side (documented numeric), so id_col
    # may be ANY orderable type (string doc ids included); negating the
    # id instead would NULL-out / ANSI-error on strings.
    canon = withc.groupBy("cluster_id").agg(
        F.min_by(
            F.col(id_col), F.struct((-F.col("__q")).alias("__nq"), F.col(id_col))
        ).alias("canonical_id")
    )
    return (
        withc.join(canon, "cluster_id")
        .select(
            id_col,
            "cluster_id",
            "canonical_id",
            (F.col(id_col) == F.col("canonical_id")).alias("kept"),
        )
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: long) 60-bit SimHash over whitespace tokens of the
    normalized text: per bit, sign of Σ±1 across token hashes.

    ZERO shuffles: the whole fingerprint is computed per row with
    higher-order functions (tokenize → hash each token once into an
    array attribute → per bit, count set bits with size(filter(...)));
    sign(Σ±1) ≡ 2·count_set > n_tokens. The previous explode +
    groupBy(id) formulation shuffled |tokens| rows per document — at
    corpus scale that shuffle dwarfed the hashing itself (measured
    4.7 s → ~1 s at sf0.1). Documents with no tokens are excluded
    (matching the explode form, where they produce no rows).

    Two-phase projection on purpose (see shingle_rows): ``__toks`` and
    ``__h`` are materialized attributes, so the split/md5 run once per
    row, not once per lambda element.
    """
    toks = df.select(
        F.col(id_col),
        F.filter(
            F.split(normalize(F.col(text_col)), " "), lambda x: x != F.lit("")
        ).alias("__toks"),
    ).filter(F.size("__toks") > 0)
    hashed = toks.select(
        F.col(id_col), F.transform(F.col("__toks"), hash64).alias("__h")
    )
    # ONE F.expr for the 60-bit fold (the per-bit Python construction —
    # filter+size+when per bit — cost ~1.1 s of py4j round trips per
    # plan build). Deliberately a FLAT 60-term sum with literal masks,
    # not an aggregate(sequence(0,59), ...) lambda: the flat form is
    # the exact expression tree the Column-built version produced
    # (constant-folded masks, codegen-friendly), while the nested-HOF
    # fold evaluated interpreted and made the pairs gate ~10x slower.
    terms = " + ".join(
        f"CASE WHEN size(filter(`__h`, h -> (h & {1 << bit}L) != 0)) * 2 "
        f"> size(`__h`) THEN {1 << bit}L ELSE 0L END"
        for bit in range(60)
    )
    sim = F.expr(f"CAST(0 AS BIGINT) + {terms}")
    return hashed.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 6,
    max_hamming: int = 6,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs from the 60-bit SimHash —
    the banded hamming search of Manku, Jarlin & Sarma 2007
    ("Detecting Near-Duplicates for Web Crawling", WWW): split the
    fingerprint into ``bands`` equal bit-blocks, bucket on each
    block's value, emit co-bucketed pairs, verify by EXACT hamming
    distance (bit_count of xor — one instruction per pair) and keep
    distance <= ``max_hamming``.

    Pigeonhole guarantee: any pair with hamming < ``bands`` shares at
    least one untouched block, so it ALWAYS surfaces — recall is
    structural below that radius, probabilistic above. Cost shape is
    minhash_lsh_pairs': one fingerprint scan, one bucket shuffle,
    in-bucket pair streaming with the same ``max_bucket`` skew cap,
    then an id-keyed fingerprint join for the verify. No quadratic
    term outside a bucket.

    When ``bands`` does not divide 60, the remainder bits fold into the
    LAST band (so every fingerprint bit participates in exactly one
    band key — no silently-coarser buckets for e.g. bands=7).
    """
    if not 1 <= bands <= 60:
        raise ValueError(f"bands must be in [1, 60], got {bands}")
    width = 60 // bands
    rem = 60 % bands
    fp = simhash64(df, id_col, text_col)

    def _band_key(b: int):
        # last band absorbs the 60 % bands leftover high bits
        w = width + (rem if b == bands - 1 else 0)
        return (
            F.shiftright(F.col("simhash"), b * width)
            .bitwiseAND(F.lit((1 << w) - 1))
            .alias("key")
        )

    banded = fp.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), _band_key(b))
                    for b in range(bands)
                ]
            )
        ).alias("__bk"),
    ).select("doc_id", F.col("__bk.band").alias("band"), F.col("__bk.key").alias("key"))
    cand = _pairs_from_banded(banded, max_bucket)
    a = fp.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__fa"))
    b = fp.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__fb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Decontamination: per-corpus-document count of distinct n-word
    shingles shared with a benchmark (eval) set — the standard
    train/test contamination check run before training.

    Returns (``id_col``, total_ngrams, overlap_ngrams, overlap_frac)
    for documents with at least ``min_overlap`` shared shingles.

    Scale: eval sets are MBs while the corpus is TBs, so the benchmark
    shingle-hash set is built once, deduplicated, and BROADCAST — the
    corpus side joins map-side with zero shuffle, and the only
    full-data shuffle is the per-document count aggregation (map-side
    partial). Shingles compare by the 60-bit md5 hash (hash64), not
    the string: ~10x less broadcast/compare volume on prose, and
    reproducible in any SQL engine.
    """
    doc_sh = shingle_rows(corpus, id_col, text_col, n).select(
        "__id", hash64(F.col("__s")).alias("__h")
    )
    bench_sh = (
        shingle_rows(benchmark, id_col, text_col, n)
        .select(hash64(F.col("__s")).alias("__h"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    flagged = doc_sh.join(F.broadcast(bench_sh), "__h", "left")
    agg = flagged.groupBy(F.col("__id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("total_ngrams"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("overlap_ngrams"),
    )
    return agg.filter(F.col("overlap_ngrams") >= min_overlap).select(
        id_col,
        "total_ngrams",
        "overlap_ngrams",
        F.round(F.col("overlap_ngrams") / F.col("total_ngrams"), 6).alias("overlap_frac"),
    )
