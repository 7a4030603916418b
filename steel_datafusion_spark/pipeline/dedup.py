"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference surface (BASELINE.json north star) for training-data
pipelines.  Design constraints:

- **Scale**: per-row stages (tokenize/shingle/hash) are JVM expressions —
  no Python in the row path.  Candidate generation is an explode +
  hash-partition self-join on (band, hash) buckets — the standard
  shuffle-parallel LSH shape that holds at 100 TB.  Exact pairwise Jaccard
  runs as an inverted-index join (posting lists keyed by shingle hash —
  fine-grained shuffle keys), never as a blocked all-pairs join whose
  parallelism collapses to the number of blocks (5 lang blocks ⇒ 5 active
  tasks was a real skew failure measured at sf0.1; for explicitly skewed
  aggregations/joins see operators/skew.py).
- **Materialization barriers are load-bearing**: Catalyst collapses adjacent
  projections, so without ``persist()`` between shingling → signatures →
  bands the whole upstream expression is re-inlined into every signature
  slot and both self-join sides (a >30× blowup measured at sf0.1).  At
  cluster scale the same barrier is a persisted/checkpointed table.
- **Determinism / oracle parity**: one md5-derived 60-bit base hash per
  shingle (reproducible in ANSI SQL), then K affine integer mixes
  ``(lo*A + hi*B + C) mod (2^61-1)`` with lo/hi the 30-bit halves — all
  products stay < 2^62, safe under ANSI int64 arithmetic in both engines.
  No RNG, no JVM-specific hash functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import track
from ..hints import DEFAULT_BROADCAST_ROWS, broadcast_if_small
from ..sources.bucketing import write_bucketed
from ..sources.index_tables import (
    absorb_delta, append_rows, attach_index, index_table, locked_verb,
    reset_delta, reset_index, swap_table,
)
from ..sources.manifest import is_manifest_root
from .text import fingerprint, sql_norm, tokens

__all__ = [
    "md5_int60", "shingles", "minhash_signature", "lsh_bands",
    "minhash_candidate_pairs", "minhash_dedup_pairs", "minhash_dedup_against",
    "build_dedup_index", "dedup_against_index",
    "exact_dedup", "simhash_from_hashes", "simhash_pairs",
    "ngram_jaccard_pairs", "winnow_fingerprints", "connected_components",
    "corpus_overlap", "source_overlap_matrix", "source_overlap_sketch",
    "keep_representatives", "dedup_corpus",
    "PERM_CONSTS", "MERSENNE61", "SQL", "DEFAULT_MAX_BUCKET",
    "keep_best_representatives",
]

# the persisted index's tables, {name}_{t} (sources/index_tables.py)
_INDEX_TABLES = ("bands", "shingles", "meta", "hot")

SIMHASH_BITS = 48   # stays well inside signed int64 under ANSI arithmetic
MERSENNE61 = (1 << 61) - 1
_LO_MASK = (1 << 30) - 1


def _perm_consts(k: int) -> list[tuple[int, int, int]]:
    """Deterministic affine-mix constants (fixed LCG, embedded as literals in
    both the Spark expressions and the oracle SQL)."""
    a, c, m = 6364136223846793005, 1442695040888963407, 1 << 63
    x = 0x9E3779B97F4A7C15 % m
    out = []
    for _ in range(k):
        x = (a * x + c) % m
        A = ((x >> 17) % (1 << 31)) | 1
        x = (a * x + c) % m
        B = ((x >> 17) % (1 << 31)) | 1
        x = (a * x + c) % m
        C = (x >> 17) % (1 << 31)
        out.append((A, B, C))
    return out


# 128 slots: [0,64) serve the per-document MinHash signatures; corpus-level
# sketches compose slot i with slot i+64 (double mix) — the LCG emits
# constants sequentially, so extending the table leaves the first 64 (and
# every committed oracle built on them) bit-identical.
PERM_CONSTS = _perm_consts(128)


def md5_int60(e: Column) -> Column:
    """60-bit integer hash: first 15 hex chars of md5.  Exactly reproducible
    in DuckDB as ('0x' || substr(md5(x),1,15))::BIGINT."""
    return F.conv(F.substring(F.md5(e), 1, 15), 16, 10).cast("long")


def _mix(h: Column, i: int) -> Column:
    """i-th affine mix of a 60-bit hash; ANSI-overflow-safe (< 2^62)."""
    A, B, C = PERM_CONSTS[i]
    lo = h.bitwiseAND(F.lit(_LO_MASK))
    hi = F.shiftright(h, 30)
    return (lo * F.lit(A) + hi * F.lit(B) + F.lit(C)) % F.lit(MERSENNE61)


def _mix_sparksql(h: str, i: int) -> str:
    """``_mix`` rendered as a Spark SQL string — the same arithmetic term
    for term (Spark's parser has no ``>>`` operator, hence ``shiftright``
    instead of the DuckDB renderer ``SQL.mix``).  Lets k-wide mix fans
    build as ONE parsed expression instead of ~15 py4j calls per slot."""
    A, B, C = PERM_CONSTS[i]
    return (f"((({h}) & {_LO_MASK}) * {A} + shiftright({h}, 30) * {B} "
            f"+ {C}) % {MERSENNE61}")


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles; docs with <n tokens yield one whole-doc
    shingle (guards ANSI sequence(0, negative))."""
    toks = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(grams)
    )


def _hashed_shingles(df: DataFrame, id_col: str, text_col: str,
                     n: int, parts: int | None = None) -> DataFrame:
    """Materialized (doc_id, hs: array<long>) — one md5 per distinct shingle.
    Persisted: this is the fan-out point every downstream stage reuses.

    Repartitioned by id before hashing: a small parquet source arrives as a
    single input split, which would serialize the CPU-heavy tokenize+hash
    stage onto one core (10 s single-threaded vs ~1 s parallel at sf0.1).
    Hash cost dominates the shuffle at every scale, so the exchange pays for
    itself; it also pre-distributes by doc_id for the joins downstream.

    ``parts`` overrides the default corpus-scale width (2× default
    parallelism) — callers hashing a KNOWN-small increment (a streaming
    micro-batch) size it to the increment so every downstream task/file
    isn't split 64 ways for a handful of rows."""
    spark = df.sparkSession
    if parts is None:
        parts = spark.sparkContext.defaultParallelism * 2
    return track(df.repartition(parts, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.transform(shingles(F.col(text_col), n), md5_int60).alias("hs"),
    ).persist())


# Building these wide expression trees costs seconds of py4j round-trips;
# they are unresolved (column-name-bound) expressions, so memoizing by the
# input column name is safe and makes repeated query builds ~free.  Keys are
# (kind, column-name, k) — a handful per process in practice, but capped so a
# long-lived service churning generated column names can't grow it without
# bound (FIFO eviction; dicts preserve insertion order).
_EXPR_CACHE: dict = {}
_EXPR_CACHE_MAX = 256


def _expr_cache_put(key, value):
    if len(_EXPR_CACHE) >= _EXPR_CACHE_MAX:
        _EXPR_CACHE.pop(next(iter(_EXPR_CACHE)))
    _EXPR_CACHE[key] = value
    return value


def minhash_signature(hs: Column | str, k: int = 32) -> Column:
    """K-wide MinHash signature over pre-hashed shingles: per slot i, min of
    the i-th affine mix.  K cheap integer passes — no re-hashing.
    Pass a column *name* to get a memoized expression tree."""
    if isinstance(hs, str):
        key = ("minhash", hs, k)
        if key not in _EXPR_CACHE:
            _expr_cache_put(key, minhash_signature(F.col(hs), k))
        return _EXPR_CACHE[key]

    def _slot(i: int) -> Column:
        # arity-1 lambda: a 2-arg lambda would receive (element, index) from
        # Spark's HOF machinery and clobber the captured index
        return F.array_min(F.transform(hs, lambda h: _mix(h, i)))

    return F.array(*[_slot(i) for i in range(k)])


def lsh_bands(sig_col: Column | str, bands: int = 8, rows: int = 4) -> Column:
    """Array of (band_idx, band_hash): md5 over the comma-joined signature
    slice.  bands*rows must equal the signature width.
    Pass a column *name* to get a memoized expression tree."""
    if isinstance(sig_col, str):
        key = ("lsh_bands", sig_col, bands, rows)
        if key not in _EXPR_CACHE:
            _expr_cache_put(key, lsh_bands(F.col(sig_col), bands, rows))
        return _EXPR_CACHE[key]
    return F.array(*[
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(F.concat_ws(",", F.transform(
                F.slice(sig_col, b * rows + 1, rows),
                lambda x: x.cast("string"),
            ))).alias("band_hash"),
        )
        for b in range(bands)
    ])


DEFAULT_MAX_BUCKET = 1000


def minhash_candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, k: int = 32, bands: int = 8, rows: int = 4,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing ≥1 LSH band.  See
    ``_candidates`` for the ``max_bucket`` occupancy guard."""
    hs = _hashed_shingles(df, id_col, text_col, n)
    return _candidates(hs, k, bands, rows, max_bucket)


def _candidates(hs: DataFrame, k: int, bands: int, rows: int,
                max_bucket: int | None = DEFAULT_MAX_BUCKET) -> DataFrame:
    """LSH candidate pairs with a bucket-occupancy guard.

    The band-bucket self-join costs Σ_bucket m² — one boilerplate flood
    putting m=10⁶ near-identical docs in a single (band_idx, band_hash)
    key would emit 5·10¹¹ pairs from that key alone, and AQE can split the
    task but not shrink quadratic OUTPUT.  ``max_bucket`` caps it: buckets
    with more than ``max_bucket`` members skip the all-pairs join and
    instead emit STAR edges (bucket-min, member) — O(m) per bucket.  An
    oversized bucket is by definition a dense near-dup cluster (≥
    max_bucket docs agreeing on a full signature band), so the star keeps
    every member connected to the cluster representative and downstream
    connected-components still merges the cluster, while the pair count
    from any bucket is bounded by max(max_bucket², m).  Star pairs flow
    through the same exact-Jaccard verify as join pairs.  ``None`` disables
    the guard (exact all-pairs semantics).  Mirror of the ``max_df`` guard
    in ``ngram_jaccard_pairs``.

    Plan (r15): with the guard on, ONE groupBy of the banded table gathers
    each bucket's sorted member list and the pairs expand MAP-SIDE from
    the array — all ordered pairs when the bucket is within the cap, star
    edges (min member, other) when it is hot: the association_rules/
    triangle_count rewrite applied to LSH.  The occupancy count, the hot
    split (previously a second full aggregation of the banded table plus
    broadcast anti/semi joins) and the band-bucket self-join all collapse
    into that one exchange (interleaved same-session A/B kept all three
    shapes honest: one-pass 2.12 s vs split-then-join 2.41 s vs self-join
    2.52 s best-of-5 at sf0.1).  Memory envelope: the expanded PAIR array
    is capped at C(max_bucket, 2) structs; a HOT bucket materializes only
    its O(members) sorted id array on one reducer (~8 MB at the 10⁶-doc
    flood documented above — the star edges then stream from the explode).
    With the guard OFF the self-join is kept — an unbounded bucket must
    stream its quadratic pair output, never materialize it in one row."""
    banded = _banded_table(hs, k, bands, rows)
    if max_bucket is None:
        a, b = banded.alias("a"), banded.alias("b")
        pairs = (
            a.join(b, on=[F.col("a.band_idx") == F.col("b.band_idx"),
                          F.col("a.band_hash") == F.col("b.band_hash"),
                          F.col("a.doc_id") < F.col("b.doc_id")])
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
        )
        return pairs.distinct()
    ids = F.col("ids")
    grouped = (banded.groupBy("band_idx", "band_hash")
               .agg(F.sort_array(F.collect_list("doc_id")).alias("ids")))
    # bucket within cap: all ordered pairs (ids sorted ⇒ doc_a < doc_b)
    all_pairs = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + F.lit(2), F.size(ids)),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))
    # hot bucket: star edges (rep = min member, other member)
    star_pairs = F.transform(
        F.slice(ids, 2, F.size(ids)),
        lambda y: F.struct(F.element_at(ids, 1).alias("doc_a"),
                           y.alias("doc_b")))
    return (grouped
            .select(F.explode(F.when(F.size(ids) > max_bucket, star_pairs)
                              .otherwise(all_pairs)).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .distinct())


def _jaccard(inter: Column, la: Column, lb: Column) -> Column:
    return F.round(inter.cast("double") / (la + lb - inter).cast("double"), 6)


def minhash_dedup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, k: int = 32, bands: int = 8, rows: int = 4,
    threshold: float = 0.5, max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """LSH candidates verified with exact hashed-shingle-set Jaccard ≥
    threshold (hash collisions perturb Jaccard by ~2^-60 — negligible).
    Output: (doc_a, doc_b, jaccard), jaccard rounded to 6dp.
    ``max_bucket`` bounds band-bucket fan-out (see ``_candidates``)."""
    hs = _hashed_shingles(df, id_col, text_col, n)
    pairs = _candidates(hs, k, bands, rows, max_bucket)
    a = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    b = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    # jaccard folded into one select (each withColumn re-analyzes the whole
    # plan tree — codegen CSE dedups the repeated intersect at runtime)
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    j = (pairs.join(a, "doc_a").join(b, "doc_b")
         .select("doc_a", "doc_b",
                 _jaccard(inter, F.size("hs_a"), F.size("hs_b"))
                 .alias("jaccard")))
    return j.filter(F.col("jaccard") >= threshold)


def _banded_table(hs: DataFrame, k: int, bands: int, rows: int) -> DataFrame:
    """(doc_id, band_idx, band_hash) from a hashed-shingles table; the
    signature table is persisted so the band slices read an attribute."""
    sigs = track(hs.select(
        "doc_id", minhash_signature("hs", k).alias("sig")).persist())
    return (sigs.select("doc_id",
                        F.explode(lsh_bands("sig", bands, rows))
                        .alias("b"))
            .select("doc_id", "b.band_idx", "b.band_hash"))


def _match_batch_to_corpus(
    hb: DataFrame, bb: DataFrame,
    corpus_shingles: DataFrame, corpus_bands: DataFrame,
    threshold: float, broadcast_batch: bool,
    corpus_hot: DataFrame | None = None,
) -> DataFrame:
    """Shared tail of the incremental-dedup shapes: band-bucket join for
    candidates, then exact hashed-shingle Jaccard verify.

    ``hb``/``bb`` are the batch's (doc_id, hs) and (batch_id, band_idx,
    band_hash); corpus sides use columns (corpus_id, hs) and (corpus_id,
    band_idx, band_hash).  ``broadcast_batch=True`` hints the batch side of
    both joins so the corpus is NEVER shuffled — the right plan whenever the
    increment is small relative to the corpus (the incremental-ingest
    contract); leave False if a huge backfill batch would blow the broadcast
    limit, and AQE picks the join.

    ``corpus_hot`` (band_idx, band_hash, rep) is the oversized-bucket guard:
    a corpus bucket with m ≫ max_bucket members would emit m candidates per
    matching batch band — a boilerplate flood makes that quadratic over an
    ingest run.  Batch bands hitting a hot bucket probe ONLY the bucket
    representative (rep = min corpus_id — an oversized bucket is a dense
    near-dup cluster, so membership is decided by one verify against rep),
    bounding per-bucket fan-out at 1; the remaining bands take the normal
    join.  The hot list is tiny by construction ⇒ broadcast."""
    bb_side = F.broadcast(bb) if broadcast_batch else bb
    if corpus_hot is not None:
        hot = F.broadcast(corpus_hot)
        bb_normal = bb_side.join(hot.select("band_idx", "band_hash"),
                                 ["band_idx", "band_hash"], "left_anti")
        if broadcast_batch:
            bb_normal = F.broadcast(bb_normal)
        star = (bb.join(hot, ["band_idx", "band_hash"])
                .select("batch_id", F.col("rep").alias("corpus_id")))
        cand = (bb_normal.join(corpus_bands, ["band_idx", "band_hash"])
                .select("batch_id", "corpus_id")
                .union(star).distinct())
    else:
        cand = (bb_side.join(corpus_bands, ["band_idx", "band_hash"])
                .select("batch_id", "corpus_id").distinct())
    a = hb.select(F.col("doc_id").alias("batch_id"), F.col("hs").alias("hs_a"))
    c = corpus_shingles.select("corpus_id", F.col("hs").alias("hs_b"))
    cand_a = cand.join(a, "batch_id")
    if broadcast_batch:
        cand_a = F.broadcast(cand_a)
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    j = (cand_a.join(c, "corpus_id")
         .select("batch_id", "corpus_id",
                 _jaccard(inter, F.size("hs_a"), F.size("hs_b"))
                 .alias("jaccard")))
    return j.filter(F.col("jaccard") >= threshold)


def minhash_dedup_against(
    batch: DataFrame, corpus: DataFrame,
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, k: int = 32, bands: int = 8, rows: int = 4,
    threshold: float = 0.5, broadcast_batch: bool = False,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Incremental dedup: which BATCH documents are near-duplicates of the
    existing CORPUS — the continuous-ingest shape (dedup each increment
    against everything already accepted), which a self-join formulation
    cannot express without rescanning corpus×corpus.

    Candidates come from an asymmetric band-bucket join: both sides band
    their MinHash signatures, then join on (band_idx, band_hash).  This
    entry point recomputes the corpus banding per call (fine for one-off
    comparisons); for repeated increments against a stable corpus, build the
    banded table ONCE with ``build_dedup_index`` and run each increment via
    ``dedup_against_index`` — then only the (small) batch side is re-banded
    and each increment costs O(|batch| + matched buckets), never
    O(|corpus|).  Survivors are verified with exact hashed-shingle Jaccard,
    like minhash_dedup_pairs.

    Output: (batch_id, corpus_id, jaccard ≥ threshold)."""
    hb = _hashed_shingles(batch, id_col, text_col, n)
    hc = _hashed_shingles(corpus, id_col, text_col, n)
    bb = _banded_table(hb, k, bands, rows).toDF(
        "batch_id", "band_idx", "band_hash")
    bc = _banded_table(hc, k, bands, rows).toDF(
        "corpus_id", "band_idx", "band_hash")
    hot = None if max_bucket is None else _corpus_hot_buckets(bc, max_bucket)
    return _match_batch_to_corpus(
        hb, bb, hc.withColumnRenamed("doc_id", "corpus_id"), bc,
        threshold, broadcast_batch, corpus_hot=hot)


def _corpus_hot_buckets(bc: DataFrame, max_bucket: int) -> DataFrame:
    """(band_idx, band_hash, rep) for corpus buckets with > max_bucket
    members; rep = min corpus_id.  Persisted — both the anti-join and the
    star probe read it."""
    return track(
        bc.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("occ"), F.min("corpus_id").alias("rep"))
        .filter(F.col("occ") > max_bucket)
        .select("band_idx", "band_hash", "rep").persist())


def build_dedup_index(
    corpus: DataFrame, name: str,
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, k: int = 32, bands: int = 8, rows: int = 4,
    n_buckets: int = 8, max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> None:
    """Materialize the corpus side of incremental dedup ONCE, as two managed
    bucketed tables (sources/bucketing.py layout):

    - ``{name}_bands``    (corpus_id, band_idx, band_hash), bucketed+sorted
      by band_hash — the candidate-generation index the batch probes;
    - ``{name}_shingles`` (corpus_id, hs), bucketed by corpus_id — the
      verify-stage posting lists.

    At 100 TB this is the difference between re-shingling the corpus on
    every increment and a pure probe: the banded table is the dedup index,
    stored hash-bucketed on the join key so each ``dedup_against_index``
    call broadcasts the small batch into it without shuffling a byte of
    corpus.  Size ``n_buckets`` to cluster parallelism (thousands at 100 TB;
    8 suits local tests).  Banding parameters (n, k, bands, rows) are
    persisted in a one-row ``{name}_meta`` table and validated by
    ``dedup_against_index`` — a probe with mismatched parameters would
    silently return (near-)empty matches, i.e. quietly admit duplicates.

    ``max_bucket`` guards oversized band buckets at BUILD time: corpus
    buckets with more members are recorded in a small ``{name}_hot`` table
    (band_idx, band_hash, rep) that every probe broadcasts, so a
    boilerplate flood in the corpus can never make a probe quadratic (see
    ``_match_batch_to_corpus``).

    A build first drops every table, swap and txn record of an earlier
    index of the same name (``sources/index_tables.reset_index``)."""
    spark = corpus.sparkSession
    reset_index(spark, name, _INDEX_TABLES)
    hc = _hashed_shingles(corpus, id_col, text_col, n)
    bc = _banded_table(hc, k, bands, rows).withColumnRenamed(
        "doc_id", "corpus_id")
    write_bucketed(bc, f"{name}_bands", ["band_hash"], n_buckets,
                   sort_cols=["band_hash"])
    write_bucketed(hc.withColumnRenamed("doc_id", "corpus_id"),
                   f"{name}_shingles", ["corpus_id"], n_buckets)
    if max_bucket is not None:
        (_corpus_hot_buckets(spark.table(f"{name}_bands"), max_bucket)
         .write.saveAsTable(f"{name}_hot"))
    spark.createDataFrame(
        [(int(n), int(k), int(bands), int(rows),
          -1 if max_bucket is None else int(max_bucket))],
        "n int, k int, bands int, rows int, max_bucket int",
    ).write.saveAsTable(f"{name}_meta")


def _hot_table(spark, name: str, meta) -> DataFrame | None:
    """The flood-guard table of a capped index, through the read path
    (``sources/index_tables.index_table``); None when the index is
    uncapped or its meta predates the guard."""
    cap = None if meta is None else meta.asDict().get("max_bucket")
    if cap is None or cap < 0:
        return None
    return index_table(spark, f"{name}_hot")


def dedup_against_index(
    batch: DataFrame, name: str,
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, k: int = 32, bands: int = 8, rows: int = 4,
    threshold: float = 0.5, broadcast_batch: bool = True,
) -> DataFrame:
    """Incremental dedup of a batch against a ``build_dedup_index`` corpus:
    bands only the batch, probes the stored ``{name}_bands`` /
    ``{name}_shingles`` tables — the corpus is never re-shingled or
    re-banded (assert via .explain(): no scan of the raw corpus source).
    Output: (batch_id, corpus_id, jaccard ≥ threshold), same contract as
    ``minhash_dedup_against``.  A capped index probes through its
    ``{name}_hot`` guard.  The probe only reads (``sources/index_tables``
    rule 3).

    Raises ``ValueError`` if (n, k, bands, rows) disagree with the
    parameters recorded by ``build_dedup_index`` in ``{name}_meta`` —
    mismatched banding joins on incompatible hashes and silently returns
    (near-)empty matches, which in an ingest pipeline means quietly
    admitting duplicates.  Pre-meta indexes (no ``{name}_meta`` table) skip
    the check for backward compatibility."""
    spark = batch.sparkSession
    meta = (spark.table(f"{name}_meta").head()
            if spark.catalog.tableExists(f"{name}_meta") else None)
    if meta is not None:
        got = (meta["n"], meta["k"], meta["bands"], meta["rows"])
        want = (n, k, bands, rows)
        if got != want:
            raise ValueError(
                f"dedup index {name!r} was built with (n, k, bands, rows)="
                f"{got} but probed with {want}; mismatched banding would "
                "silently miss duplicates — rebuild the index or pass the "
                "recorded parameters")
    bc = index_table(spark, f"{name}_bands")
    hc = index_table(spark, f"{name}_shingles")
    hb = _hashed_shingles(batch, id_col, text_col, n)
    bb = _banded_table(hb, k, bands, rows).toDF(
        "batch_id", "band_idx", "band_hash")
    return _match_batch_to_corpus(hb, bb, hc, bc, threshold, broadcast_batch,
                                  corpus_hot=_hot_table(spark, name, meta))


def attach_dedup_index(spark, name: str) -> bool:
    """Re-attach a persisted dedup index's tables in a FRESH session's
    catalog, finishing any crashed swap first
    (``sources/index_tables.attach_index``).  Returns True iff the core
    tables (bands, shingles, meta) are reachable; the optional hot
    table attaches when present."""
    return attach_index(spark, name, ("bands", "shingles", "meta"),
                        optional=("hot",))


def dedup_index_append(
    batch: DataFrame, name: str,
    id_col: str = "doc_id", text_col: str = "text",
) -> dict:
    """Absorb a document batch into a ``build_dedup_index`` index WITHOUT
    re-shingling the corpus — the incremental-maintenance half of the
    persisted-dedup story.  The MinHash sketch is per-document
    deterministic (no corpus-size dependence), so the grown index is
    bit-identical to a from-scratch build over base+batch: shingle+band
    ONLY the batch, append its rows to the bucketed ``{name}_bands`` /
    ``{name}_shingles`` tables (Spark validates the bucket spec), and
    maintain the ``{name}_hot`` flood guard EXACTLY — a bucket can only
    become hot if the batch touched it, so one broadcast-filtered scan
    of the bands INDEX table (int triples — ~1000× smaller than the
    corpus text; no shuffle of the index, output is only the touched
    buckets) recounts just those buckets and merges them into the hot
    table (min-rep union).  Banding parameters come from
    ``{name}_meta``; a pre-meta index must be rebuilt (appending with
    guessed parameters would silently admit duplicates forever).

    Cost per ingest cycle: O(|batch|) shingling + bucketed appends + the
    index-metadata scan — never a re-shingle or re-band of corpus text.

    The cycle is a locked verb (``sources/index_tables``): concurrent
    appenders serialize and each cycle logs a txn record, so two
    processes appending at once produce the same index as any serial
    order; the hot table is replaced by ``swap_table``.  Not
    crash-ATOMIC within a cycle: a crash mid-append can still leave
    band rows without posting lists (probes miss the batch; a blind
    re-run would double-insert) — repair by rebuilding, or use
    ``streaming_dedup_ingest`` for replay-guarded atomic batches.

    Returns ``{"appended_docs": d, "appended_bands": b,
    "hot_buckets": h, "txn": v}`` (h = hot-table size after the merge;
    -1 when the index carries no hot table — max_bucket=None or a
    pre-guard build)."""
    spark = batch.sparkSession
    if not spark.catalog.tableExists(f"{name}_meta"):
        raise ValueError(
            f"dedup index {name!r} has no {name}_meta table — appending "
            f"with guessed banding parameters would produce rows that "
            f"never match the stored ones (silently admitting "
            f"duplicates); rebuild with build_dedup_index")
    return locked_verb(
        spark, name, _INDEX_TABLES, "dedup_index_append",
        lambda: _dedup_index_append_locked(batch, name, id_col, text_col))


def _dedup_index_append_locked(
    batch: DataFrame, name: str, id_col: str, text_col: str,
) -> dict:
    spark = batch.sparkSession
    meta = spark.table(f"{name}_meta").head()
    n, k = int(meta["n"]), int(meta["k"])
    bands, rows = int(meta["bands"]), int(meta["rows"])
    max_bucket = None if meta["max_bucket"] < 0 else int(meta["max_bucket"])
    hb = _hashed_shingles(batch, id_col, text_col, n) \
        .withColumnRenamed("doc_id", "corpus_id")
    bb = _banded_table(hb.withColumnRenamed("corpus_id", "doc_id"),
                       k, bands, rows) \
        .withColumnRenamed("doc_id", "corpus_id").persist()
    n_bands_rows = bb.count()  # materialize once: append + hot probe
    append_rows(spark, f"{name}_bands", bb)
    append_rows(spark, f"{name}_shingles", hb)
    n_hot = -1
    if max_bucket is not None and \
            spark.catalog.tableExists(f"{name}_hot"):
        bkeys = bb.select("band_idx", "band_hash").distinct()
        touched = (spark.table(f"{name}_bands")
                   .join(F.broadcast(bkeys), ["band_idx", "band_hash"])
                   .groupBy("band_idx", "band_hash")
                   .agg(F.count(F.lit(1)).alias("occ"),
                        F.min("corpus_id").alias("rep"))
                   .filter(F.col("occ") > max_bucket)
                   .select("band_idx", "band_hash", "rep"))
        new_hot = (spark.table(f"{name}_hot").unionByName(touched)
                   .groupBy("band_idx", "band_hash")
                   .agg(F.min("rep").alias("rep")))
        swap_table(spark, f"{name}_hot", new_hot)
        n_hot = spark.table(f"{name}_hot").count()
    n_docs = hb.count()
    bb.unpersist()
    return {"appended_docs": int(n_docs),
            "appended_bands": int(n_bands_rows),
            "hot_buckets": int(n_hot)}


def dedup_index_compact(spark, name: str, work_root: str) -> dict:
    """Absorb a ``streaming_dedup_ingest`` delta into the bucketed base
    index and reset the delta — the one-call maintenance verb that
    completes the dedup-index lifecycle (build → append/stream →
    compact), mirroring ``ann_index_compact`` (similarity.py):

    - bands and shingles each absorb their delta root through
      ``sources/index_tables.absorb_delta``, keyed on (corpus_id,
      band_idx) / corpus_id;
    - the hot flood-guard table is REBUILT EXACTLY over the merged
      bands (one scan of int triples) — this is where the delta's
      guard-only mid-stream occupancy drift (streaming/operators.py
      ``streaming_dedup_ingest``) gets healed;
    - the delta roots reset to EMPTY versions that carry their txn
      watermarks (``sources/index_tables.reset_delta``);
    - the cycle is a locked verb and every table is replaced by
      ``swap_table`` (``sources/index_tables``).

    A probe racing the delta-reset window may briefly see a document in
    both base and delta; the probe paths already collapse duplicate
    candidates, so results stay exact.  Cost: one full rewrite of each
    index table (the price of re-bucketing, same as any OPTIMIZE) +
    O(index-metadata) hot recount.  Returns {"base_bands": n,
    "delta_bands": d, "hot_buckets": h, "delta_reset_versions": [...],
    "txn": t} (h = -1 for uncapped indexes)."""
    return locked_verb(
        spark, name, _INDEX_TABLES, "dedup_index_compact",
        lambda: _dedup_index_compact_locked(spark, name, work_root))


def _dedup_index_compact_locked(spark, name: str, work_root: str) -> dict:
    import os as _os

    meta = spark.table(f"{name}_meta").head()
    max_bucket = None if meta["max_bucket"] < 0 else int(meta["max_bucket"])
    roots = {t: _os.path.join(work_root, f"delta_{t}")
             for t in ("bands", "shingles")}
    live_roots = [r for r in roots.values() if is_manifest_root(r)]
    d_rows = 0
    if live_roots:
        delta = absorb_delta(spark, f"{name}_bands", roots["bands"],
                             ["corpus_id", "band_idx"])
        d_rows = 0 if delta is None else delta.count()
        absorb_delta(spark, f"{name}_shingles", roots["shingles"],
                     ["corpus_id"])
    n_hot = -1
    if max_bucket is not None:
        swap_table(spark, f"{name}_hot", _corpus_hot_buckets(
            spark.table(f"{name}_bands"), max_bucket))
        n_hot = spark.table(f"{name}_hot").count()
    reset_versions = [reset_delta(spark, root, name) for root in live_roots]
    return {"base_bands": int(spark.table(f"{name}_bands").count()),
            "delta_bands": int(d_rows),
            "hot_buckets": int(n_hot),
            "delta_reset_versions": reset_versions}


def winnow_fingerprints(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): the
    distinct minima of each sliding window of ``window`` consecutive shingle
    hashes.  Guarantees any shared run of ≥ n+window-1 tokens contributes a
    shared fingerprint — the standard plagiarism/near-dup sketch whose size
    is ~|doc|/window instead of |doc|.

    Ordered shingles here (no array_distinct): winnowing is position-based."""
    toks = tokens(F.col(text_col))
    grams = F.when(
        F.size(toks) < n, F.array(F.concat_ws(" ", toks))
    ).otherwise(F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    ))
    spark = df.sparkSession
    parts = spark.sparkContext.defaultParallelism * 2
    hs = df.repartition(parts, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.transform(grams, md5_int60).alias("hs"),
    )
    w = window
    fps = F.array_distinct(F.when(
        F.size(F.col("hs")) < w, F.array(F.array_min("hs"))
    ).otherwise(F.transform(
        F.sequence(F.lit(1), F.size(F.col("hs")) - (w - 1)),
        lambda i: F.array_min(F.slice(F.col("hs"), i, w)),
    )))
    return hs.select("doc_id", fps.alias("fps"))


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: every doc mapped to the
    group keeper (min id).  One shuffle on the 128-bit fingerprint — the
    canonical hash-groupBy dedup that scales linearly."""
    parts = df.sparkSession.sparkContext.defaultParallelism * 2
    fp = track(df.repartition(parts, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        fingerprint(F.col(text_col)).alias("fp")).persist())
    keep = fp.groupBy("fp").agg(F.min("doc_id").alias("keeper"),
                                F.count(F.lit(1)).alias("n_copies"))
    return (fp.join(keep, "fp")
            .select("doc_id", "keeper", "n_copies",
                    (F.col("doc_id") != F.col("keeper")).alias("is_dup")))


def simhash_from_hashes(hs: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over pre-hashed shingles: bit b is 1 iff the ±1 vote sum over
    element-hash bit b is positive.  Pass a column *name* for a memoized
    expression tree.

    Single pass: one fold over the hash array carrying a ``bits``-wide vote
    accumulator (zip_with against a constant mask array), then one zip to
    assemble the fingerprint.  The per-bit unrolled form (48 separate
    aggregates) produced an expression tree whose analysis+codegen alone cost
    ~8 s — the vote semantics are identical, so the SQL oracle is unchanged."""
    if isinstance(hs, str):
        key = ("simhash", hs, bits)
        if key not in _EXPR_CACHE:
            _expr_cache_put(key, simhash_from_hashes(F.col(hs), bits))
        return _EXPR_CACHE[key]
    masks = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1))
                              .otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(votes, masks,
                   lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  n: int = 3, max_hamming: int = 6) -> DataFrame:
    """Near-dup pairs by shingle-SimHash: block on 4 chunks of 12 bits
    (pigeonhole: recall 1 whenever ≤3 chunks differ — bit-sampling LSH),
    verify popcount(xor) ≤ max_hamming.

    Scale: 4× explode + hash shuffle on (chunk_idx, chunk_val); no cross
    product ever forms.  Shingle-level (not token-level) SimHash keeps
    small-vocabulary corpora from degenerating into one giant near-dup
    cluster (token-level produced 3.4M pairs on 5k synthetic docs)."""
    hs = _hashed_shingles(df, id_col, text_col, n)
    sh = track(hs.select("doc_id",
                         simhash_from_hashes("hs").alias("sh")).persist())
    chunks = sh.select(
        "doc_id", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk_idx"),
                     F.shiftright(F.col("sh"), 12 * i)
                      .bitwiseAND(F.lit(0xFFF)).alias("chunk_val"))
            for i in range(4)
        ])).alias("c"),
    ).select("doc_id", "sh", "c.chunk_idx", "c.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(b, on=[F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                      F.col("a.chunk_val") == F.col("b.chunk_val"),
                      F.col("a.doc_id") < F.col("b.doc_id")])
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"),
                F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"))
        # hamming is a function of the pair, so filtering BEFORE the
        # distinct is equivalent — and the dedup exchange then carries
        # only surviving pairs instead of every candidate (r15)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", block_cols: list[str] | None = None,
                        n: int = 3, threshold: float = 0.3,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard via an inverted index (within blocking groups).

    Instead of a blocked all-pairs join (quadratic in block size, and with B
    blocks only B shuffle keys ⇒ parallelism collapses — 56 s at sf0.1), the
    pair intersection sizes come from the posting lists: explode shingle
    hashes → self-join on (block, shingle) → groupBy (doc_a, doc_b) count(*)
    = |A∩B|.  Work is Σ_s df(s)² over shingles instead of Σ_block |block|² ×
    |shingles| — ~60× less on this corpus, and the shuffle keys are the
    shingle hashes (fine-grained, AQE splits any stop-shingle skew).

    Pairs sharing no shingle never appear — identical output for any
    threshold > 0.  With ``max_df=None`` the result is exact (no sampling,
    no cap).

    ``max_df`` is the 100 TB cost knob: the posting-list self-join costs
    Σ_s df(s)², so one stop-shingle appearing in 1M documents alone costs
    10¹² candidate rows.  Setting ``max_df=K`` drops shingles whose
    document frequency (within the block) exceeds K *before* the join,
    bounding every shingle's contribution at K².  The hot-shingle list is
    tiny (only shingles above the cap) ⇒ broadcast anti-join, no extra
    shuffle of the posting lists.  Semantics: intersections no longer count
    dropped shingles while set sizes still do, so reported jaccard is a
    lower bound — near-dup pairs that share ONLY ubiquitous boilerplate
    fall out, which is the standard dedup trade (boilerplate is exactly
    what you don't want driving near-dup decisions)."""
    block_cols = block_cols or ["lang"]
    base = df.select(F.col(id_col).alias("doc_id"), *block_cols)
    hs = _hashed_shingles(df, id_col, text_col, n)
    sh = track(base.join(hs, "doc_id").select(
        "doc_id", *block_cols, "hs", F.size("hs").alias("sz")).persist())
    post = sh.select("doc_id", *block_cols, "sz", F.explode("hs").alias("h"))
    if max_df is not None:
        hot = (post.groupBy(*block_cols, "h")
               .agg(F.count(F.lit(1)).alias("df_h"))
               .filter(F.col("df_h") > max_df)
               .select(*block_cols, "h"))
        # USING-join moves the join keys first; restore positional order for
        # the toDF renames below
        post = (post.join(hot, on=block_cols + ["h"], how="left_anti")
                .select("doc_id", *block_cols, "sz", "h"))
    a = post.toDF(*(["doc_a"] + block_cols + ["sz_a", "h"]))
    b = post.toDF(*(["doc_b"] + [f"b_{c}" for c in block_cols] + ["sz_b", "h2"]))
    cond = [F.col("h") == F.col("h2"), F.col("doc_a") < F.col("doc_b")]
    cond += [F.col(c) == F.col(f"b_{c}") for c in block_cols]
    inter = (a.join(b, on=cond)
             .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    j = inter.withColumn(
        "jaccard", _jaccard(F.col("inter"), F.col("sz_a"), F.col("sz_b")))
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def _large_star(cedges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond"): every node connects its strictly-larger neighbors to the
    minimum of its neighborhood (incl. itself).  Input/output: canonical
    undirected edges (hi > lo).  Both directions expand via explode — one
    pass over the (checkpointed) edge set instead of two union branches
    (r15)."""
    sym = (cedges.select(F.explode(F.array(
        F.struct(F.col("hi").alias("u"), F.col("lo").alias("v")),
        F.struct(F.col("lo").alias("u"), F.col("hi").alias("v"))))
        .alias("p"))
        .select("p.u", "p.v"))
    m = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("mn"))
    return (sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("mn").alias("lo"))
            .where(F.col("hi") != F.col("lo"))
            .distinct())


def _small_star(cedges: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller-or-equal neighbors
    (and itself) to the minimum of those.  Canonical edges in/out."""
    m = cedges.groupBy("hi").agg(F.min("lo").alias("mn"))
    # (lo, mn) per edge plus (hi, mn) per center, expanded map-side from
    # the single join — a union of two branches would run the min-aggregate
    # twice (once per branch); the (hi, mn) duplicates this emits per edge
    # collapse in the distinct that canonicalization needs anyway
    return (cedges.join(m, "hi")
            .select(F.explode(F.array(
                F.struct(F.col("lo").alias("x"), F.col("mn").alias("y")),
                F.struct(F.col("hi").alias("x"), F.col("mn").alias("y"))))
                .alias("p"))
            .select("p.x", "p.y")
            .where(F.col("x") != F.col("y"))
            .select(F.greatest("x", "y").alias("hi"),
                    F.least("x", "y").alias("lo"))
            .distinct())


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iters: int = 25,
                         algorithm: str = "label-propagation",
                         reliable: bool = False,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """Resolve candidate near-dup PAIRS into CLUSTERS: iterative min-label
    propagation to a fixpoint — the step every real dedup pipeline needs
    between pair generation (minhash/simhash/jaccard) and keeper selection,
    since near-dup is not transitive but keep-one-per-cluster must be.

    Returns ``(doc_id, cluster_id)`` for every doc appearing in a pair,
    where ``cluster_id`` = the minimum doc_id of the connected component
    (the canonical keeper).  Singletons (docs in no pair) are absent —
    their keeper is themselves.  Raises ``RuntimeError`` when the
    ``max_iters``-th round still changed the labels: truncated labels
    would silently split components, so they are never returned.

    Two algorithms, same contract:

    - ``"label-propagation"`` (default): the GraphX/Pregel loop in pure
      DataFrame ops — per iteration one hash-join of labels onto edges plus
      a min-aggregate, both shuffling on fine-grained vertex keys;
      iterations = component DIAMETER.  Right for dedup graphs, whose
      components are near-cliques (measured diameter ≤ 3 at sf0.01).
      Convergence is detected with a 1-row sum(label) aggregate (labels
      only decrease, so an unchanged sum IS the fixpoint).
    - ``"two-phase"``: alternating large-star/small-star rounds (Kiveris et
      al.) rewriting the EDGE set until stable — O(log n) rounds regardless
      of diameter, so a chain of length 1000 converges in ~10 rounds where
      label propagation needs 1000 iterations.  The 100 TB choice whenever
      component shape is unknown (web-scale link graphs, long chains of
      pairwise near-dups).

    **Lineage is truncated every iteration with an eager checkpoint
    barrier.**  With plain persist() each iteration's plan embeds the
    previous InMemoryRelation's child plan recursively — measured at sf0.1:
    the executed-plan tree grew ~4× per iteration (41 MB of plan text by
    iteration 2) and planning, not execution, dominated at 3-9 s/iter.
    Checkpointing collapses every iteration to a flat scan (measured
    0.2 s/iter — 24× less loop wall-clock), the GraphFrames/MLlib
    iterative pattern.  By default the barrier is ``localCheckpoint``
    (executor-local blocks, NO recompute lineage): fastest, but on a real
    cluster one lost executor kills the job mid-loop — for long 100 TB
    runs pass ``reliable=True`` (+ ``checkpoint_dir`` on first use) to
    write each iteration to durable storage instead
    (cache.iteration_barrier).  Superseded iterations release their blocks
    immediately; the returned frame's blocks are reclaimed by Spark's
    ContextCleaner on GC, or eagerly via release_local_checkpoint."""
    from ..cache import (iteration_barrier, release_local_checkpoint, track,
                         untrack_and_unpersist)

    def _ckpt(df: DataFrame) -> DataFrame:
        return iteration_barrier(df, reliable, checkpoint_dir)

    def _not_converged(*held: DataFrame) -> RuntimeError:
        for df in held:
            release_local_checkpoint(df)
        return RuntimeError(
            f"connected_components({algorithm!r}) did not reach a fixpoint "
            f"in max_iters={max_iters} rounds: the last round still "
            f"changed the labels, so they are not the components.  Raise "
            f"max_iters, or use algorithm=\"two-phase\" (O(log n) rounds "
            f"for any diameter)")

    # persist the raw pair projection: BOTH init frames (canonical edges
    # and the vertex set) derive from it, and without the persist each
    # init materialization re-runs the caller's full pair-generation
    # lineage — a duplicated corpus-scale pass when the caller hands the
    # pairs in unpersisted (as the gate paths do) (r15)
    e = track(pairs.select(F.col(src).cast("long").alias("a"),
                           F.col(dst).cast("long").alias("b")).persist())

    if algorithm == "two-phase":
        cedges = _ckpt(e.where(F.col("a") != F.col("b"))
                       .select(F.greatest("a", "b").alias("hi"),
                               F.least("a", "b").alias("lo"))
                       .distinct())
        # vertex set from the RAW pairs (incl. self-pairs, which the
        # canonical edge set drops), so the output covers every doc that
        # appeared in a pair — same contract as label propagation
        vertices = _ckpt(e.select(F.explode(F.array("a", "b")).alias("v"))
                         .distinct())
        untrack_and_unpersist(e)   # both init frames are checkpointed now

        def _sig(edge_set: DataFrame) -> tuple:
            # fixpoint test via an order-independent content hash: count +
            # exact decimal SUM of the per-edge 60-bit md5 hash.  A plain
            # count/sum-of-endpoints signature is unsound (different edge
            # sets collide trivially); equal hash-sums of DIFFERENT sets
            # require an md5 collision-sum event (≤2^-60 — the same bound
            # every dedup operator here builds on).  One map-side agg per
            # round; the sound-but-shuffling alternative (subtract +
            # isEmpty) costs a full set-difference shuffle per round at
            # 100 TB.
            h = md5_int60(F.concat_ws("_", F.col("hi"), F.col("lo")))
            return tuple(edge_set.agg(
                F.count(F.lit(1)),
                F.sum(h.cast("decimal(38,0)"))).collect()[0])

        prev_sig = _sig(cedges)
        for _ in range(max_iters):
            new = _ckpt(_small_star(_large_star(cedges)))
            sig = _sig(new)
            release_local_checkpoint(cedges)
            cedges = new
            if sig == prev_sig:
                break
            prev_sig = sig
        else:
            raise _not_converged(cedges, vertices)
        # at the fixpoint every non-minimum node has a direct edge to its
        # component minimum; minima label themselves
        mins = cedges.groupBy(F.col("hi").alias("v")).agg(
            F.min("lo").alias("mn"))
        labels = (vertices.join(mins, "v", "left")
                  .select(F.col("v").alias("doc_id"),
                          F.least(F.col("v"), F.coalesce("mn", "v"))
                          .alias("cluster_id")))
        out = _ckpt(labels)  # honor reliable= for the returned frame too
        release_local_checkpoint(cedges)
        release_local_checkpoint(vertices)
        return out
    if algorithm != "label-propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}: "
                         "expected 'label-propagation' or 'two-phase'")

    # both directions via explode — one pass over e instead of two union
    # branches each scanning it (r15)
    edges = _ckpt(
        e.select(F.explode(F.array(
            F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
            F.struct(F.col("b").alias("a"), F.col("a").alias("b"))))
            .alias("p"))
        .select("p.a", "p.b")
        .distinct())
    untrack_and_unpersist(e)   # edges are checkpointed; labels derive
    labels = _ckpt(edges.select(F.col("a").alias("v")).distinct()
                   .withColumn("label", F.col("v")))
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iters):
        # new label = min(own label, neighbors' labels): one union + one
        # min-aggregate (2 shuffles/iter; a nmin left-join form costs 3),
        # both shuffles on the fine-grained vertex key
        nbr = (edges.join(labels.toDF("b", "blabel"), "b")
               .select(F.col("a").alias("v"), F.col("blabel").alias("label")))
        new = _ckpt(labels.unionByName(nbr)
                    .groupBy("v").agg(F.min("label").alias("label")))
        new_sum = new.agg(F.sum("label")).collect()[0][0]
        release_local_checkpoint(labels)     # superseded iteration
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise _not_converged(labels, edges)
    release_local_checkpoint(edges)
    return labels.select(F.col("v").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def keep_representatives(corpus: DataFrame, clusters: DataFrame,
                         id_col: str = "doc_id",
                         broadcast_limit: int | None = DEFAULT_BROADCAST_ROWS,
                         ) -> DataFrame:
    """Apply resolved dedup clusters to the corpus: keep each cluster's
    representative (its minimum doc id — which IS ``cluster_id`` by the
    ``connected_components`` contract) and every singleton, drop the rest.
    The final step of a dedup pipeline: pairs → clusters → a corpus with
    one document per near-dup class.

    Scale: the drop list (cluster members minus representatives) is
    proportional to the DUPLICATE count, not the corpus — but at web-crawl
    duplicate rates (30-50%) that IS corpus-order, so the broadcast is
    size-guarded: a bounded count ≤ ``broadcast_limit`` rows broadcasts
    the drop list and the corpus streams through a map-side anti-join with
    no shuffle; anything larger falls through to a plain shuffled
    anti-join on the id (one exchange, still linear, never an executor
    OOM).  Column-pruned: only doc ids leave the clusters frame."""
    drop = (clusters.filter(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias(id_col)))
    return corpus.join(broadcast_if_small(drop, broadcast_limit),
                       id_col, "left_anti")


def dedup_corpus(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 method: str = "simhash",
                 algorithm: str = "two-phase",
                 **kwargs) -> DataFrame:
    """End-to-end near-dedup: pair generation (``method`` = "simhash" |
    "minhash") → connected components (``algorithm``) → representative
    filter — the one-call form of the full pipeline, returning the
    deduplicated corpus with its original schema.  Extra kwargs flow to
    the pair generator (thresholds, bands, max_hamming...)."""
    if method == "simhash":
        pairs = simhash_pairs(df, id_col=id_col, text_col=text_col, **kwargs)
    elif method == "minhash":
        pairs = minhash_dedup_pairs(df, id_col=id_col, text_col=text_col,
                                    **kwargs).select(
            F.col("doc_a"), F.col("doc_b"))
    else:
        raise ValueError(f"method must be 'simhash' or 'minhash', "
                         f"got {method!r}")
    cc = connected_components(pairs, algorithm=algorithm)
    return keep_representatives(df, cc, id_col=id_col)


# ---------------------------------------------------------------------------
# ANSI-SQL oracle builders (DuckDB) — same algorithms, bit-for-bit
# ---------------------------------------------------------------------------

class SQL:
    """Generators for the DuckDB-oracle SQL of each dedup operator."""

    H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

    @staticmethod
    def tokens(col: str) -> str:
        n = sql_norm(col)
        return (f"CASE WHEN length({n}) = 0 THEN []::VARCHAR[] "
                f"ELSE string_split({n}, ' ') END")

    @classmethod
    def shingles(cls, col: str, n: int = 3) -> str:
        t = cls.tokens(col)
        return (
            f"list_distinct(CASE WHEN len({t}) < {n} "
            f"THEN [array_to_string({t}, ' ')] "
            f"ELSE list_transform(generate_series(1, len({t}) - {n - 1}), "
            f"i -> array_to_string(list_slice({t}, i, i + {n - 1}), ' ')) END)"
        )

    @classmethod
    def hashed_shingles(cls, col: str, n: int = 3) -> str:
        return (f"list_transform({cls.shingles(col, n)}, "
                f"s -> {cls.H.format(x='s')})")

    @staticmethod
    def mix(h: str, i: int) -> str:
        A, B, C = PERM_CONSTS[i]
        return (f"((({h}) & {_LO_MASK}) * {A} + (({h}) >> 30) * {B} + {C}) "
                f"% {MERSENNE61}")

    @classmethod
    def ordered_shingle_hashes(cls, col: str, n: int = 3) -> str:
        t = cls.tokens(col)
        grams = (f"CASE WHEN len({t}) < {n} THEN [array_to_string({t}, ' ')] "
                 f"ELSE list_transform(generate_series(1, len({t}) - {n - 1}), "
                 f"i -> array_to_string(list_slice({t}, i, i + {n - 1}), ' ')) END")
        return f"list_transform({grams}, s -> {cls.H.format(x='s')})"

    @staticmethod
    def winnow(hs: str, window: int = 4) -> str:
        return (f"list_distinct(CASE WHEN len({hs}) < {window} "
                f"THEN [list_min({hs})] "
                f"ELSE list_transform(generate_series(1, len({hs}) - {window - 1}), "
                f"i -> list_min(list_slice({hs}, i, i + {window - 1}))) END)")

    @classmethod
    def minhash_sig_items(cls, hs: str, k: int = 32) -> list[str]:
        return [
            f"list_min(list_transform({hs}, h -> {cls.mix('h', i)}))"
            for i in range(k)
        ]

    @classmethod
    def simhash_terms(cls, hs: str, bits: int = SIMHASH_BITS) -> str:
        terms = []
        for b in range(bits):
            bitsum = (f"list_sum(list_transform({hs}, h -> "
                      f"CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END))")
            terms.append(f"CASE WHEN {bitsum} > 0 THEN {1 << b}::BIGINT "
                         f"ELSE 0::BIGINT END")
        return " + ".join(terms)


def corpus_overlap(
    a: DataFrame, b: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", n: int = 3, k: int = 64,
) -> DataFrame:
    """Corpus-LEVEL overlap diagnostic: exact shingle-set Jaccard between
    two corpora plus a K-slot MinHash sketch estimate — "how much does the
    new crawl overlap what we already have", answerable before committing
    to a full dedup pass.

    Exact side: distinct shingle hashes per corpus (fine-grained hash
    aggregation), sizes + intersection via one hash join on the 60-bit
    key.  Sketch side: the corpus signature is the element-wise min of the
    K affine mixes over ALL shingles — a single aggregation with map-side
    partial mins (K longs per partition), the mergeable corpus fingerprint
    you would persist per shard and fold at any fan-in; slot-match
    fraction estimates Jaccard with std ~ sqrt(J(1-J)/K).

    Returns one row: n_a, n_b, n_common, jaccard (exact, 6dp),
    est_jaccard (sketch, 6dp).  Both sides are md5-affine arithmetic,
    reproducible exactly in the DuckDB oracle — the estimate is
    hash-checked, not bound-checked.
    """
    if not 1 <= k <= len(PERM_CONSTS) // 2:
        raise ValueError(
            f"k must be in [1, {len(PERM_CONSTS) // 2}] (the double mix "
            f"draws permutation constants at slots i and i+k from the "
            f"{len(PERM_CONSTS)}-entry PERM_CONSTS table), got k={k}")

    def _distinct_hashes(df: DataFrame) -> DataFrame:
        hs = _hashed_shingles(df, id_col, text_col, n)
        return track(hs.select(F.explode("hs").alias("h"))
                     .distinct().persist())

    ha, hb = _distinct_hashes(a), _distinct_hashes(b)

    def _count_and_sig(df: DataFrame, cname: str, sname: str) -> DataFrame:
        # ONE aggregation per corpus carries both the set size and all K
        # sketch minima (fused to keep the stage count — and thus the
        # small-input latency — down).  Double mix (slot i then slot
        # i+k): one affine pass wraps the Mersenne modulus at most twice,
        # so single-mix minima correlate with the hash's high bits ACROSS
        # slots and overestimate J by ~2x (measured); the second pass
        # decorrelates (est within 3 sigma on Monte-Carlo random sets).
        # The 2k nested mix trees are rendered as ONE parsed SQL array of
        # mins (r16, the similarity_pq literal lesson: ~1.6 s of the gate
        # was pure py4j Column construction; ``_mix_sparksql`` is ``_mix``
        # term for term, so the arithmetic is unchanged).
        mins = ", ".join(
            f"min({_mix_sparksql(_mix_sparksql('h', i), i + k)})"
            for i in range(k))
        return df.agg(F.count(F.lit(1)).alias(cname),
                      F.expr(f"array({mins})").alias(sname))

    nc = ha.join(hb, "h").agg(F.count(F.lit(1)).alias("n_common"))
    matches = F.size(F.filter(
        F.zip_with(F.col("sig_a"), F.col("sig_b"),
                   lambda x, y: x == y), lambda t: t))
    return (_count_and_sig(ha, "n_a", "sig_a")
            .crossJoin(_count_and_sig(hb, "n_b", "sig_b"))
            .crossJoin(nc)
            .select(
                "n_a", "n_b", "n_common",
                F.round(F.col("n_common")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                        6).alias("jaccard"),
                F.round(matches / F.lit(float(k)), 6).alias("est_jaccard")))


def source_overlap_matrix(
    df: DataFrame, group_col: str = "source", id_col: str = "doc_id",
    text_col: str = "text", n: int = 3,
) -> DataFrame:
    """Pairwise shingle-overlap matrix between corpus subsets (sources,
    crawls, shards): for every group pair (a < b), the exact count of
    shared distinct shingles and the Jaccard of the two shingle sets —
    the cross-SOURCE contamination picture, where ``corpus_overlap`` gives
    one corpus pair and doc-level dedup gives row pairs.

    Plan: distinct (group, shingle-hash) pairs (fine-grained hash
    aggregation) → per-group set sizes (small: |groups| rows, broadcast
    both ways) → ONE partially-aggregated groupBy on the 60-bit shingle
    key collecting each shingle's sorted group set, expanded MAP-SIDE
    into its C(m, 2) ordered pairs (r15: previously an h-keyed self-join
    — two exchanges of the shingle set + the join; now one exchange).
    Per-shingle fan-out is bounded by C(|groups|, 2), so with the
    tens-of-sources cardinality this targets, the pair stream is
    |distinct shingles| · O(|groups|²) worst case but in practice near
    the input size.  For group counts in the thousands, fall back to
    per-group MinHash corpus sketches (``corpus_overlap``'s signature
    side) and compare signatures instead.

    Returns (group_a, group_b, n_a, n_b, n_common, jaccard 6dp),
    group_a < group_b.  SPARSE: pairs sharing zero shingles produce NO row
    (the self-join is inner on the shingle hash) — callers rendering a
    dense matrix should cross-join the group list and left-join this
    result with coalesce(n_common, 0).  Exact arithmetic end-to-end —
    fully oracle-checkable.
    """
    # repartition before the CPU-heavy shingle+md5 explode: a small parquet
    # source arrives as ONE input split, which would serialize the hash
    # stage onto a single core (measured 8-9 s single-threaded vs ~2 s
    # parallel at sf0.1 — same rationale as _hashed_shingles)
    parts = df.sparkSession.sparkContext.defaultParallelism * 2
    gs = track(
        df.repartition(parts)
        .select(F.col(group_col).alias("g"),
                F.explode(shingles(F.col(text_col), n)).alias("s"))
        .select("g", md5_int60(F.col("s")).alias("h"))
        .distinct().persist())
    sizes = gs.groupBy("g").agg(F.count(F.lit(1)).alias("n_set"))
    # each shingle's sorted group list -> C(m, 2) (a < b) pairs in-row;
    # sort_array gives ascending group names, so pairing each element
    # with every later one reproduces the old a.g < b.g join condition
    combos = F.flatten(F.transform(
        F.col("gl"),
        lambda x, i: F.transform(
            F.slice(F.col("gl"), i + F.lit(2),
                    F.greatest(F.size(F.col("gl")) - i - F.lit(1),
                               F.lit(0))),
            lambda y: F.struct(x.alias("a"), y.alias("b")))))
    pairs = (gs.groupBy("h")
             .agg(F.array_sort(F.collect_set("g")).alias("gl"))
             .select(F.explode(combos).alias("p"))
             .groupBy(F.col("p.a").alias("group_a"),
                      F.col("p.b").alias("group_b"))
             .agg(F.count(F.lit(1)).alias("n_common")))
    return (pairs
            .join(F.broadcast(sizes.withColumnRenamed("g", "group_a")
                              .withColumnRenamed("n_set", "n_a")), "group_a")
            .join(F.broadcast(sizes.withColumnRenamed("g", "group_b")
                              .withColumnRenamed("n_set", "n_b")), "group_b")
            .select("group_a", "group_b", "n_a", "n_b", "n_common",
                    F.round(F.col("n_common")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_common")), 6).alias("jaccard")))


def source_overlap_sketch(
    df: DataFrame, group_col: str = "source", id_col: str = "doc_id",
    text_col: str = "text", n: int = 3, k: int = 64,
) -> DataFrame:
    """The SCALE path ``source_overlap_matrix``'s docstring promises for
    group counts in the thousands: per-group K-slot MinHash corpus
    sketches (the ``corpus_overlap`` signature side, generalized to any
    number of groups) compared pairwise — the shingle-keyed self-join
    never forms.

    Plan: distinct (group, shingle-hash) pairs → ONE aggregation per the
    whole frame producing each group's set size and K sketch minima
    (map-side partial mins — K longs per group per partition, mergeable at
    any fan-in) → pairwise slot-match join over the |groups|-row signature
    table (broadcast; |groups|²·K work is group-level, independent of
    corpus size).  Slot-match fraction estimates Jaccard with
    std ≈ sqrt(J(1-J)/K).

    Same double affine mix as ``corpus_overlap`` (slots i and i+k), so the
    estimate is bit-reproducible in the DuckDB oracle — hash-checked, not
    bound-checked.  Returns (group_a, group_b, n_a, n_b, est_jaccard 6dp),
    group_a < group_b, ALL pairs present (zero-overlap pairs estimate 0 —
    unlike the sparse exact matrix)."""
    if not 1 <= k <= len(PERM_CONSTS) // 2:
        raise ValueError(
            f"k must be in [1, {len(PERM_CONSTS) // 2}] (double mix draws "
            f"constants at slots i and i+k), got k={k}")
    parts = df.sparkSession.sparkContext.defaultParallelism * 2
    gs = (df.repartition(parts)
          .select(F.col(group_col).alias("g"),
                  F.explode(shingles(F.col(text_col), n)).alias("s"))
          .select("g", md5_int60(F.col("s")).alias("h"))
          .distinct())
    # persist the |groups|-row SIGNATURE table, not the corpus-sized
    # distinct shingle set: the self-join below references sig twice, and
    # caching upstream of the aggregation made the whole distinct+min
    # chain run once per side (r15: two full aggregations + a multi-
    # million-row cache write -> one pass + a |groups|-row cache).
    # 2k mix trees render as ONE parsed SQL expression (r16 — the
    # corpus_overlap py4j lesson; identical arithmetic term for term)
    mins = ", ".join(
        f"min({_mix_sparksql(_mix_sparksql('h', i), i + k)})"
        for i in range(k))
    sig = track(
        gs.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_set"),
             F.expr(f"array({mins})").alias("sig")).persist())
    a = sig.toDF("group_a", "n_a", "sig_a")
    b = sig.toDF("group_b", "n_b", "sig_b")
    matches = F.size(F.filter(
        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
        lambda t: t))
    return (a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
            .select("group_a", "group_b", "n_a", "n_b",
                    F.round(matches / F.lit(float(k)), 6)
                    .alias("est_jaccard")))


def keep_best_representatives(
    corpus: DataFrame, clusters: DataFrame, score,
    id_col: str = "doc_id",
    broadcast_limit: int | None = DEFAULT_BROADCAST_ROWS,
) -> DataFrame:
    """Apply resolved dedup clusters keeping each cluster's BEST member by
    ``score`` (a Column over corpus rows — quality score, length, recency)
    instead of ``keep_representatives``' minimum-id convention.  Ties
    break on the smaller id, so the kept set is a pure function of
    (corpus, clusters, score) — the curation-grade final dedup step:
    near-dup classes usually contain one full document and several
    truncated/boilerplated variants, and min-id keeps an arbitrary one.

    Scale: the clusters frame and the drop list derived from it are
    proportional to the DUPLICATE count — corpus-order at web-crawl dup
    rates (30-50%) — so both joins are size-guarded: under
    ``broadcast_limit`` rows they broadcast (scoring is a map-side join,
    the final anti-probe streams the corpus with no shuffle); over it
    they fall through to shuffled hash joins on the id (one exchange
    each, linear, never an OOM).

    Skew (r16, measured — tools/skew_probe_r16.py): a pathological
    cluster holding 10% of the corpus sorts inside one window partition,
    but the probe at 200k and 2M members shows skewed-vs-uniform within
    1.2x for this window shape (the per-cluster sort is a tiny fraction
    of the stage), while the map-side-combining min(struct(-score, id))
    aggregation alternative costs ~2x locally because the members join
    must be evaluated twice (winners pass + drop pass).  The window
    stays; revisit the aggregation (with a persisted members frame) only
    if a real corpus shows the single-partition sort dominating a
    stage."""
    from pyspark.sql import Window

    members = (corpus.select(F.col(id_col), score.alias("_score"))
               .join(broadcast_if_small(
                         clusters.select(id_col, "cluster_id"),
                         broadcast_limit),
                     id_col))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc(), F.col(id_col).asc())
    drop = (members.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(F.col(id_col)))
    return corpus.join(broadcast_if_small(drop, broadcast_limit),
                       id_col, "left_anti")
