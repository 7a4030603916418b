"""Pipeline gate registry, part 1/5 (see pipeline/queries.py for the catalog contract)."""

from .gates_common import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def q_text_stats(spark, sf_dir):
    """Per-doc text stats: tokens, punct/stopword ratios, langid, quality,
    fingerprint — one codegen'd projection, no shuffle."""
    d = load_tables(spark, sf_dir)["documents"]
    t = F.col("text")
    return d.select(
        "doc_id",
        TX.token_count(t).alias("n_tokens"),
        F.round(TX.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(TX.stopword_ratio(t), 6).alias("stopword_ratio"),
        TX.lang_id(t).alias("lang_pred"),
        F.round(TX.quality_score(t), 6).alias("quality"),
        TX.fingerprint(t).alias("fingerprint"),
    )


_SQL_TEXT_STATS = f"""
SELECT doc_id,
  {TX.sql_token_count('text')} AS n_tokens,
  round({TX.sql_punct_ratio('text')}, 6) AS punct_ratio,
  round({TX.sql_stopword_ratio('text')}, 6) AS stopword_ratio,
  {TX.sql_lang_id('text')} AS lang_pred,
  round({TX.sql_quality_score('text')}, 6) AS quality,
  {TX.sql_fingerprint('text')} AS fingerprint
FROM documents
"""


def q_text_quality_by_source(spark, sf_dir):
    """Quality rollup per source: count, avg token count, english share."""
    d = load_tables(spark, sf_dir)["documents"]
    t = F.col("text")
    stats = d.select(
        "source",
        TX.token_count(t).alias("n_tokens"),
        TX.lang_id(t).alias("lang_pred"),
        TX.quality_score(t).alias("quality"),
    )
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("n_tokens").alias("avg_tokens"),
        F.round(F.min("quality"), 6).alias("min_quality"),
        F.round(F.max("quality"), 6).alias("max_quality"),
        (F.sum(F.when(F.col("lang_pred") == "en", 1).otherwise(0)).cast("double")
         / F.count(F.lit(1))).alias("en_share"),
    )


_SQL_TEXT_QUALITY = f"""
WITH s AS (
  SELECT source, {TX.sql_token_count('text')} AS n_tokens,
         {TX.sql_lang_id('text')} AS lang_pred,
         {TX.sql_quality_score('text')} AS quality
  FROM documents)
SELECT source, COUNT(*) AS n_docs, AVG(n_tokens) AS avg_tokens,
  round(MIN(quality), 6) AS min_quality, round(MAX(quality), 6) AS max_quality,
  CAST(SUM(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS en_share
FROM s GROUP BY source
"""


def q_pii_redact(spark, sf_dir):
    """PII scrub over a deterministically PII-planted corpus (the synthetic
    documents contain no natural PII): every 7th doc gets an email, a phone
    and an IPv4 appended; output = per-doc PII class counts + redacted
    length.  One codegen'd regexp projection, map-side, no shuffle."""
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" contact user"),
                     F.col("doc_id").cast("string"),
                     F.lit("@example.com or 555-123-4567 at 10.0.0.1"))
        ).otherwise(F.col("text")))
    t = F.col("text")
    return planted.select(
        "doc_id", *TX.pii_counts(t),
        F.length(TX.redact_pii(t)).alias("redacted_len"))


def _sql_pii_redact() -> str:
    counts = ", ".join(
        f"{TX.sql_pii_count('text', i)} AS n_{name}"
        for i, (name, _p, _r) in enumerate(TX.PII_PATTERNS))
    return f"""
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 7 = 0
      THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
           || '@example.com or 555-123-4567 at 10.0.0.1'
      ELSE text END AS text
  FROM documents)
SELECT doc_id, {counts},
  length({TX.sql_redact_pii('text')}) AS redacted_len
FROM planted
"""


def q_stratified_sample(spark, sf_dir):
    """Exactly 20 docs per lang stratum, selected by md5 order — the
    deterministic, engine-independent sample (pipeline/sampling.py).
    WindowGroupLimit prunes to 20 per partition before the one exchange."""
    from .sampling import stratified_sample_n
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang")
    return stratified_sample_n(d, ["lang"], 20)


def _sql_stratified_sample() -> str:
    from .sampling import sql_hash_unit
    h = sql_hash_unit("doc_id", "strat")
    return f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {h}, doc_id) AS rn
  FROM documents) t
WHERE rn <= 20
"""


def q_hash_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment — a pure projection
    on md5 thresholds: a doc's split never changes when the corpus grows
    (the anti-leak property rand() splits lack).  No shuffle."""
    from .sampling import hash_split
    d = load_tables(spark, sf_dir)["documents"].select("doc_id")
    return hash_split(d, {"train": 0.8, "val": 0.1, "test": 0.1})


def q_domain_cap(spark, sf_dir):
    """C4-style per-domain cap: at most 15 docs per source, kept by md5
    preference with doc_id tiebreak (pipeline/sampling.py domain_cap) —
    deterministic under corpus growth, WindowGroupLimit-pruned shuffle."""
    from .sampling import domain_cap
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "source")
    return domain_cap(d, 15)


def _sql_domain_cap() -> str:
    from .sampling import sql_hash_unit
    h = sql_hash_unit("doc_id", "domcap")
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY {h}, doc_id) AS rn
  FROM documents) t
WHERE rn <= 15
"""


def q_shard_assignment(spark, sf_dir):
    """Deterministic training-order sharding (pipeline/sampling.py
    shard_assignment): shard = md5 mod 8 (map-side), pos = md5-order rank
    within the shard — byte-identical epochs across reruns, salt swap for
    fresh epochs, no global sort."""
    from .sampling import shard_assignment
    d = load_tables(spark, sf_dir)["documents"].select("doc_id")
    return shard_assignment(d, 8)


def _sql_shard_assignment() -> str:
    from .sampling import sql_hash_unit
    h = sql_hash_unit("doc_id", "shard")
    return f"""
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY hu, doc_id) AS pos
FROM (SELECT doc_id, {h} AS hu, ({h} % 8)::INT AS shard FROM documents) t
"""


def _sql_hash_split() -> str:
    # identical integer thresholds via the same float accumulation
    from .sampling import _MOD, sql_hash_unit
    h = sql_hash_unit("doc_id", "split")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    acc, whens = 0.0, []
    for name, wt in weights.items():
        acc += wt
        whens.append(f"WHEN {h} < {int(acc * _MOD)} THEN '{name}'")
    return f"""
SELECT doc_id, CASE {' '.join(whens)} ELSE 'test' END AS split
FROM documents
"""


def q_weighted_sample(spark, sf_dir):
    """Quality-weighted curation sample: each doc survives with probability
    = its (6dp-rounded — cross-engine pinned) quality score.  Deterministic
    md5 thresholding, map-side, zero shuffle."""
    from .sampling import weighted_sample
    d = load_tables(spark, sf_dir)["documents"]
    scored = d.select(
        "doc_id",
        F.round(TX.quality_score(F.col("text")), 6).alias("quality"))
    return weighted_sample(scored, "quality")


def _sql_weighted_sample() -> str:
    from .sampling import _MOD, sql_hash_unit
    h = sql_hash_unit("doc_id", "wsample")
    q = TX.sql_quality_score("text")
    return f"""
WITH scored AS (
  SELECT doc_id, round({q}, 6) AS quality FROM documents)
SELECT doc_id, quality FROM scored
WHERE {h} < CAST(floor(least(greatest(quality, 0.0), 1.0) * {float(_MOD)})
               AS BIGINT)
"""


def q_sequence_packing(spark, sf_dir):
    """Concat-then-chunk sequence packing (pipeline/packing.py): documents
    ordered by doc_id within lang, cut every 2048 BPE-ish tokens; per-bin
    doc count, tokens and straddle count.  One window + one agg — a single
    hash shuffle on lang."""
    from .packing import pack_bins_summary
    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "lang", TX.bpe_ish_token_count(F.col("text")).alias("n_tok"))
    return pack_bins_summary(d, ["lang"], "doc_id", "n_tok", budget=2048)


def _sql_sequence_packing(budget: int = 2048) -> str:
    ntok = TX.sql_bpe_ish_token_count("text")
    return f"""
WITH toks AS (
  SELECT doc_id, lang, greatest({ntok}, 1) AS t FROM documents),
cum AS (
  SELECT doc_id, lang, t,
    COALESCE(SUM(t) OVER (PARTITION BY lang ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
  FROM toks)
SELECT lang, CAST(floor(tokens_before / {budget}) AS BIGINT) AS bin_id,
  COUNT(*) AS n_docs,
  CAST(SUM(t) AS BIGINT) AS bin_tokens,
  CAST(SUM(CASE WHEN floor((tokens_before + t - 1) / {budget})
                 > floor(tokens_before / {budget}) THEN 1 ELSE 0 END) AS BIGINT)
    AS n_straddle
FROM cum GROUP BY lang, bin_id
"""


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    """Exact dedup over the augmented corpus: every doc → its keeper."""
    return exact_dedup(_aug_docs(spark, sf_dir))


_SQL_DEDUP_EXACT = f"""
WITH {_AUG_DOCS_SQL},
fp AS (SELECT doc_id, {TX.sql_fingerprint('text')} AS f FROM corpus),
keep AS (SELECT f, MIN(doc_id) AS keeper, COUNT(*) AS n_copies FROM fp GROUP BY f)
SELECT fp.doc_id, keep.keeper, keep.n_copies,
       fp.doc_id <> keep.keeper AS is_dup
FROM fp JOIN keep ON fp.f = keep.f
"""


def q_dedup_minhash(spark, sf_dir):
    """MinHash(32) + LSH(8×4) candidates, verified with exact shingle
    Jaccard ≥ 0.5 — finds the 20 planted near-copies."""
    return minhash_dedup_pairs(_aug_docs(spark, sf_dir), threshold=0.5)


def _sql_dedup_minhash(max_bucket: int = 1000) -> str:
    """Mirrors minhash_dedup_pairs INCLUDING the band-bucket occupancy cap:
    buckets with > max_bucket members contribute star edges (bucket-min,
    member) instead of all pairs (pipeline/dedup.py _candidates)."""
    hs = DSQL.hashed_shingles("text")
    sig_items = ",\n    ".join(DSQL.minhash_sig_items("hs", 32))
    return f"""
WITH {_AUG_DOCS_SQL},
shing AS (SELECT doc_id, {hs} AS hs FROM corpus),
sigs AS (SELECT doc_id, [{sig_items}] AS sig FROM shing),
bands AS (
  SELECT doc_id, b.band_idx,
         md5(array_to_string(list_slice(sig, b.band_idx*4+1, b.band_idx*4+4), ',')) AS band_hash
  FROM sigs, (SELECT unnest(generate_series(0, 7)) AS band_idx) b),
hot AS (
  SELECT band_idx, band_hash, MIN(doc_id) AS rep
  FROM bands GROUP BY band_idx, band_hash
  HAVING COUNT(*) > {max_bucket}),
normal AS (
  SELECT b.* FROM bands b ANTI JOIN hot h
    ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM normal a JOIN normal b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
  UNION
  SELECT DISTINCT h.rep AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN hot h
    ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash
  WHERE b.doc_id <> h.rep),
j AS (
  SELECT p.doc_a, p.doc_b,
    round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
          (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))), 6) AS jaccard
  FROM pairs p
  JOIN shing sa ON sa.doc_id = p.doc_a
  JOIN shing sb ON sb.doc_id = p.doc_b)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
"""


def q_dedup_incremental(spark, sf_dir):
    """Continuous-ingest dedup: the planted near-copy batch (docs <20,
    ' steel spark dedup' appended, ids +1000000) checked against the full
    corpus via the asymmetric band-bucket join (pipeline/dedup.py
    minhash_dedup_against) — the corpus banding is the reusable index."""
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    batch = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" steel spark dedup")).alias("text"))
    return minhash_dedup_against(batch, d, threshold=0.5)


def _sql_dedup_incremental(max_bucket: int = 1000) -> str:
    """Mirrors minhash_dedup_against INCLUDING the corpus hot-bucket guard:
    batch bands hitting a corpus bucket with > max_bucket members probe
    only the bucket representative (pipeline/dedup.py
    _match_batch_to_corpus)."""
    hs = DSQL.hashed_shingles("text")
    sig_items = ",\n    ".join(DSQL.minhash_sig_items("hs", 32))
    return f"""
WITH batch AS (
  SELECT doc_id + 1000000 AS doc_id, text || ' steel spark dedup' AS text
  FROM documents WHERE doc_id < 20),
shb AS (SELECT doc_id, {hs} AS hs FROM batch),
shc AS (SELECT doc_id, {hs} AS hs FROM documents),
sigb AS (SELECT doc_id, [{sig_items}] AS sig FROM shb),
sigc AS (SELECT doc_id, [{sig_items}] AS sig FROM shc),
bandsb AS (
  SELECT doc_id, b.band_idx,
         md5(array_to_string(list_slice(sig, b.band_idx*4+1, b.band_idx*4+4), ',')) AS band_hash
  FROM sigb, (SELECT unnest(generate_series(0, 7)) AS band_idx) b),
bandsc AS (
  SELECT doc_id, b.band_idx,
         md5(array_to_string(list_slice(sig, b.band_idx*4+1, b.band_idx*4+4), ',')) AS band_hash
  FROM sigc, (SELECT unnest(generate_series(0, 7)) AS band_idx) b),
hotc AS (
  SELECT band_idx, band_hash, MIN(doc_id) AS rep
  FROM bandsc GROUP BY band_idx, band_hash
  HAVING COUNT(*) > {max_bucket}),
cand AS (
  SELECT DISTINCT a.doc_id AS batch_id, c.doc_id AS corpus_id
  FROM (SELECT b.* FROM bandsb b ANTI JOIN hotc h
          ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash) a
  JOIN bandsc c
    ON a.band_idx = c.band_idx AND a.band_hash = c.band_hash
  UNION
  SELECT DISTINCT b.doc_id AS batch_id, h.rep AS corpus_id
  FROM bandsb b JOIN hotc h
    ON b.band_idx = h.band_idx AND b.band_hash = h.band_hash),
j AS (
  SELECT p.batch_id, p.corpus_id,
    round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
          (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))), 6) AS jaccard
  FROM cand p
  JOIN shb sa ON sa.doc_id = p.batch_id
  JOIN shc sb ON sb.doc_id = p.corpus_id)
SELECT batch_id, corpus_id, jaccard FROM j WHERE jaccard >= 0.5
"""


def q_dedup_simhash_fingerprints(spark, sf_dir):
    """48-bit shingle-SimHash fingerprints for docs with id<100 — validates
    the full bit-derivation pipeline value-for-value across engines."""
    d = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") < 100)
    hs = d.select("doc_id",
                  F.transform(shingles(F.col("text")), md5_int60).alias("hs"))
    return hs.select("doc_id", simhash_from_hashes("hs").alias("simhash"))


def _sql_simhash_fps() -> str:
    return f"""
WITH hsrc AS (SELECT doc_id, {DSQL.hashed_shingles('text')} AS hs
              FROM documents WHERE doc_id < 100)
SELECT doc_id, {DSQL.simhash_terms('hs')} AS simhash FROM hsrc
"""


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 10) via 4×12-bit chunk blocking on
    the augmented corpus."""
    return simhash_pairs(_aug_docs(spark, sf_dir), max_hamming=10)


def _sql_simhash_pairs() -> str:
    return f"""
WITH {_AUG_DOCS_SQL},
hsrc AS (SELECT doc_id, {DSQL.hashed_shingles('text')} AS hs FROM corpus),
sh AS (SELECT doc_id, {DSQL.simhash_terms('hs')} AS sh FROM hsrc),
chunks AS (
  SELECT doc_id, sh, c.chunk_idx, (sh >> (12 * c.chunk_idx)) & 4095 AS chunk_val
  FROM sh, (SELECT unnest(generate_series(0, 3)) AS chunk_idx) c),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         bit_count(xor(a.sh, b.sh)) AS hamming
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 10
"""


def q_dedup_clusters(spark, sf_dir):
    """Cluster resolution over SimHash near-dup pairs: connected components
    (iterative min-label propagation, pipeline/dedup.py) turn the pair list
    into per-doc (cluster_id = min doc_id of component, cluster_size) — the
    keeper-selection step between pair generation and the actual drop."""
    pairs = simhash_pairs(_aug_docs(spark, sf_dir), max_hamming=10)
    cc = connected_components(pairs)
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size")


def _sql_dedup_clusters() -> str:
    """Transitive closure via recursive CTE (exact fixpoint — the oracle for
    the Spark loop's converged labels), over the same simhash pair CTEs."""
    return f"""
WITH RECURSIVE {_AUG_DOCS_SQL},
hsrc AS (SELECT doc_id, {DSQL.hashed_shingles('text')} AS hs FROM corpus),
sh AS (SELECT doc_id, {DSQL.simhash_terms('hs')} AS sh FROM hsrc),
chunks AS (
  SELECT doc_id, sh, c.chunk_idx, (sh >> (12 * c.chunk_idx)) & 4095 AS chunk_val
  FROM sh, (SELECT unnest(generate_series(0, 3)) AS chunk_idx) c),
p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sh, b.sh)) <= 10),
edges AS (SELECT doc_a AS a, doc_b AS b FROM p
          UNION SELECT doc_b, doc_a FROM p),
reach AS (SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a),
sizes AS (SELECT cluster_id, count(*) AS cluster_size
          FROM lab GROUP BY cluster_id)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lab l JOIN sizes s USING (cluster_id)
"""


def q_dedup_apply(spark, sf_dir):
    """End-to-end dedup application (pipeline/dedup.py dedup_corpus):
    simhash pairs → two-phase connected components → representative
    filter.  The output is the actually-deduplicated corpus — one doc per
    near-dup class plus all singletons — closing the loop the pair/cluster
    gates leave open.  The drop list is broadcast; the corpus never
    shuffles."""
    from .dedup import dedup_corpus

    return dedup_corpus(_aug_docs(spark, sf_dir),
                        max_hamming=10).select("doc_id", "lang")


def _sql_dedup_apply() -> str:
    """Recursive-CTE transitive closure (as _sql_dedup_clusters) + anti-join:
    survivors are docs that are their own component minimum (or in no
    pair)."""
    return f"""
WITH RECURSIVE {_AUG_DOCS_SQL},
hsrc AS (SELECT doc_id, {DSQL.hashed_shingles('text')} AS hs FROM corpus),
sh AS (SELECT doc_id, {DSQL.simhash_terms('hs')} AS sh FROM hsrc),
chunks AS (
  SELECT doc_id, sh, c.chunk_idx, (sh >> (12 * c.chunk_idx)) & 4095 AS chunk_val
  FROM sh, (SELECT unnest(generate_series(0, 3)) AS chunk_idx) c),
p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sh, b.sh)) <= 10),
edges AS (SELECT doc_a AS a, doc_b AS b FROM p
          UNION SELECT doc_b, doc_a FROM p),
reach AS (SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a),
dropped AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
SELECT c.doc_id, c.lang FROM corpus c
WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def q_dedup_keep_best(spark, sf_dir):
    """Curation-grade dedup application (pipeline/dedup.py
    keep_best_representatives): same simhash pairs → two-phase CC as
    dedup_apply, but each cluster keeps its LONGEST member (char length,
    id tie-break) instead of the min id — the real canonical-document
    choice (near-dup classes hold one full doc and several truncated
    variants).  Clusters are duplicate-proportional, so scoring, the
    per-cluster argmax window, and the drop list all ride broadcasts;
    the corpus never shuffles."""
    from .dedup import (connected_components, keep_best_representatives,
                        simhash_pairs)

    docs = _aug_docs(spark, sf_dir)
    pairs = simhash_pairs(docs, max_hamming=10)
    cc = connected_components(pairs, algorithm="two-phase")
    return keep_best_representatives(docs, cc, F.length("text")) \
        .select("doc_id", F.length("text").alias("n_chars"))


def _sql_dedup_keep_best() -> str:
    """The _sql_dedup_apply transitive closure with an argmax-by-length
    keep rule instead of min-id."""
    return f"""
WITH RECURSIVE {_AUG_DOCS_SQL},
hsrc AS (SELECT doc_id, {DSQL.hashed_shingles('text')} AS hs FROM corpus),
sh AS (SELECT doc_id, {DSQL.simhash_terms('hs')} AS sh FROM hsrc),
chunks AS (
  SELECT doc_id, sh, c.chunk_idx, (sh >> (12 * c.chunk_idx)) & 4095 AS chunk_val
  FROM sh, (SELECT unnest(generate_series(0, 3)) AS chunk_idx) c),
p AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.doc_id < b.doc_id
  WHERE bit_count(xor(a.sh, b.sh)) <= 10),
edges AS (SELECT doc_a AS a, doc_b AS b FROM p
          UNION SELECT doc_b, doc_a FROM p),
reach AS (SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
lab AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a),
scored AS (
  SELECT l.doc_id, l.cluster_id, length(c.text) AS n_chars
  FROM lab l JOIN corpus c USING (doc_id)),
keep1 AS (
  SELECT doc_id FROM (
    SELECT doc_id, row_number() OVER (PARTITION BY cluster_id
      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM scored)
  WHERE rn = 1),
dropped AS (
  SELECT doc_id FROM lab
  WHERE doc_id NOT IN (SELECT doc_id FROM keep1))
SELECT c.doc_id, length(c.text)::INT AS n_chars FROM corpus c
WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def q_dedup_clusters_twophase(spark, sf_dir):
    """Same cluster resolution as dedup_clusters, but via the alternating
    large-star/small-star algorithm (pipeline/dedup.py, O(log n) rounds
    regardless of component diameter — the 100 TB choice for long-chain
    graphs).  Shares dedup_clusters' recursive-CTE transitive-closure
    oracle: both algorithms must reach the identical fixpoint labels."""
    pairs = simhash_pairs(_aug_docs(spark, sf_dir), max_hamming=10)
    cc = connected_components(pairs, algorithm="two-phase")
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "cluster_id").select(
        "doc_id", "cluster_id", "cluster_size")


# Index fixtures are built once per (app, sf_dir) (queries.build_once): the
# index is a one-time materialization that real pipelines amortize across
# increments, so the gate times the PROBE, not a rebuild per bench rep.
def _ensure_dedup_index(spark, sf_dir):
    def build(scoped):
        d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
        build_dedup_index(d, scoped)
    return build_once(spark, sf_dir, "gate_dedup_idx", build)


def q_dedup_index_probe(spark, sf_dir):
    """Incremental dedup through the PERSISTED index: build_dedup_index
    materializes the corpus banding + shingles as bucketed managed tables
    ONCE per (session, sf_dir) — the amortized shape — and
    dedup_against_index bands only the batch and broadcast-probes them.
    Same results contract (and oracle) as dedup_incremental, but the probe
    plan must never rescan the raw corpus (tests/test_dedup_index.py asserts
    it; this gate hash-checks the values end-to-end)."""
    scoped = _ensure_dedup_index(spark, sf_dir)
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    batch = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" steel spark dedup")).alias("text"))
    return dedup_against_index(batch, scoped, threshold=0.5)


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard ≥ 0.5 within lang blocks (augmented corpus)."""
    return ngram_jaccard_pairs(_aug_docs(spark, sf_dir), block_cols=["lang"],
                               threshold=0.5)


def _sql_ngram_jaccard() -> str:
    hs = DSQL.hashed_shingles("text")
    return f"""
WITH {_AUG_DOCS_SQL},
shing AS (SELECT doc_id, lang, {hs} AS hs FROM corpus),
j AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    round(CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
          (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))), 6) AS jaccard
  FROM shing a JOIN shing b ON a.lang = b.lang AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

def q_similarity_topk(spark, sf_dir):
    """Exact brute-force cosine top-10 for query vectors (vec_id < 5)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    return cosine_topk(q, e, k=10)


_SQL_SIM_TOPK = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_COS.format(a='q.qv', b='e.v')}, 6) AS score
  FROM q, e WHERE q.query_id <> e.vec_id)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t WHERE rank <= 10
"""


def q_similarity_ivf(spark, sf_dir):
    """IVF-bucketed ANN top-10 (nlist=10 centroids — a FIXED count
    independent of corpus size, stride ceil(N/10) from one cheap count;
    nprobe=2).  The oracle derives the same stride from count(*)."""
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    return ivf_topk(q, e, k=10, nprobe=2, nlist=10)


def q_ann_recall(spark, sf_dir):
    """ANN QUALITY measurement (recall@10 of the IVF path against exact
    brute force, per query vector): the report every approximate index
    owes its operator — IVF/LSH trade recall for the bucketed plan, and
    this gate makes the trade a hash-checked NUMBER instead of a claim.
    Both paths share one scan lineage; the compare is a tiny
    (queries × k) join.  At 100 TB you run this on a sampled query set:
    cost = one brute-force pass over the sample, amortized across every
    future index deployment."""
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    bf = cosine_topk(q, e, k=10).select("query_id", "neighbor_id")
    approx = ivf_topk(q, e, k=10, nprobe=2, nlist=10) \
        .select("query_id", "neighbor_id")
    n_exact = bf.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_hit = (approx.join(bf, ["query_id", "neighbor_id"])
             .groupBy("query_id")
             .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    return (n_exact.join(n_hit, "query_id", "left")
            .select("query_id", "n_exact",
                    F.coalesce("n_hit", F.lit(0)).cast("long")
                    .alias("n_hit"))
            .withColumn("recall",
                        F.round(F.col("n_hit") / F.col("n_exact"), 6))
            .orderBy("query_id"))


_SQL_SIM_IVF = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS centv FROM e
         WHERE vec_id % (SELECT (count(*) + 9) // 10 FROM e) = 0),
assign AS (
  SELECT vid, v, centroid_id FROM (
    SELECT e.vec_id AS vid, e.v, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='e.v', b='c.centv')}, 6) DESC, c.centroid_id) AS r
    FROM e, cent c) t WHERE r = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round({_COS.format(a='q.qv', b='c.centv')}, 6) DESC, c.centroid_id) AS r
    FROM q, cent c) t WHERE r <= 2),
scored AS (
  SELECT p.query_id, a.vid AS neighbor_id,
         round({_COS.format(a='p.qv', b='a.v')}, 6) AS score
  FROM probes p JOIN assign a USING (centroid_id)
  WHERE p.query_id <> a.vid)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t WHERE rank <= 10
"""


def _ensure_ann_probe_index(spark, sf_dir):
    from .similarity import build_ann_index

    def build(scoped):
        e = load_tables(spark, sf_dir)["embeddings"]
        build_ann_index(e, scoped, nlist=10)
    return build_once(spark, sf_dir, "gate_ann_idx", build)


def q_ann_index_probe(spark, sf_dir):
    """PERSISTED dense-vector index probe (pipeline/similarity.py
    build_ann_index + ivf_topk_index): the index — nlist=10 centroids +
    the corpus assignment stored BUCKETED on centroid_id — is built once
    as managed tables, then the query batch probes it WITHOUT
    re-assigning or re-scanning the corpus source (the build-once /
    probe-many path build_dedup_index gives MinHash, now for the dense
    family).  The probe plan shuffles only the query side: the bucketed
    assignment scan has no Exchange above it (plan-asserted in
    tests/test_round11_ops.py).  Same nlist/nprobe as similarity_ivf, so
    the stored-index path must reproduce the inline path bit-for-bit —
    that is exactly what this gate hashes."""
    from .similarity import ivf_topk_index

    scoped = _ensure_ann_probe_index(spark, sf_dir)
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    return ivf_topk_index(q, scoped, k=10, nprobe=2)


# One build+append SEQUENCE per (app, sf_dir): the grown index is
# deterministic, so re-running the sequence would only duplicate rows —
# gate reps must probe the SAME grown state.
def _ensure_ann_append_index(spark, sf_dir):
    from .similarity import ann_index_append, build_ann_index

    def build(scoped):
        e = load_tables(spark, sf_dir)["embeddings"]
        cut = e.count() * 3 // 5
        build_ann_index(e.filter(F.col("vec_id") < cut), scoped, nlist=10)
        tail = e.filter(F.col("vec_id") >= cut)
        ann_index_append(tail.filter(F.col("vec_id") % 2 == 0), scoped)
        ann_index_append(tail.filter(F.col("vec_id") % 2 == 1), scoped)
    return build_once(spark, sf_dir, "gate_ann_apx", build)


def q_ann_index_append(spark, sf_dir):
    """INCREMENTAL maintenance of the persisted dense-vector index
    (pipeline/similarity.py ann_index_append): the index is built over
    the first 60% of the corpus, then the remaining 40% is absorbed in
    TWO appends — each assigns only its batch against the STORED
    centroids (frozen quantizer ⇒ bit-identical to a one-shot build
    with the same centroid table; O(|batch|×nlist) per ingest cycle,
    never O(|corpus|)) and appends to the bucketed assignment table.
    The probe then runs against the grown index; the oracle computes
    the same IVF with base-derived centroids over the FULL corpus, so
    the hash proves append-grown ≡ full rebuild (the r11 VERDICT item-2
    contract).  Equality + plan shape also in
    tests/test_index_append.py."""
    from .similarity import ivf_topk_index

    scoped = _ensure_ann_append_index(spark, sf_dir)
    e = load_tables(spark, sf_dir)["embeddings"]
    q = e.filter(F.col("vec_id") < 5)
    return ivf_topk_index(q, scoped, k=10, nprobe=2)


_SQL_ANN_INDEX_APPEND = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
base AS (SELECT * FROM e
         WHERE vec_id < (SELECT 3 * count(*) // 5 FROM e)),
cent AS (SELECT vec_id AS centroid_id, v AS centv FROM base
         WHERE vec_id % (SELECT (count(*) + 9) // 10 FROM base) = 0),
assign AS (
  SELECT vid, v, centroid_id FROM (
    SELECT e.vec_id AS vid, e.v, c.centroid_id,
      row_number() OVER (PARTITION BY e.vec_id
        ORDER BY round({_COS.format(a='e.v', b='c.centv')}, 6) DESC, c.centroid_id) AS r
    FROM e, cent c) t WHERE r = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
probes AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, c.centroid_id,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY round({_COS.format(a='q.qv', b='c.centv')}, 6) DESC, c.centroid_id) AS r
    FROM q, cent c) t WHERE r <= 2),
scored AS (
  SELECT p.query_id, a.vid AS neighbor_id,
         round({_COS.format(a='p.qv', b='a.v')}, 6) AS score
  FROM probes p JOIN assign a USING (centroid_id)
  WHERE p.query_id <> a.vid)
SELECT query_id, neighbor_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY score DESC, neighbor_id) AS rank
  FROM scored) t WHERE rank <= 10
"""


def _ensure_dedup_append_index(spark, sf_dir):
    from .dedup import dedup_index_append

    def build(scoped):
        d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
        build_dedup_index(d.filter(F.col("doc_id") % 2 == 0), scoped)
        odd = d.filter(F.col("doc_id") % 2 == 1)
        dedup_index_append(odd.filter(F.col("doc_id") % 4 == 1), scoped)
        dedup_index_append(odd.filter(F.col("doc_id") % 4 == 3), scoped)
    return build_once(spark, sf_dir, "gate_dd_apx", build)


def q_dedup_index_append(spark, sf_dir):
    """INCREMENTAL maintenance of the persisted MinHash dedup index
    (pipeline/dedup.py dedup_index_append): the index is built over the
    even-id half of the corpus, the odd half is absorbed in TWO appends
    (shingle+band only the batch — the sketch is per-doc deterministic,
    so the grown index is bit-identical to a from-scratch build; the
    hot-bucket flood guard is maintained exactly via a broadcast-
    filtered recount of only the touched buckets), then the planted
    near-copy batch probes the grown index.  The oracle is the SAME
    full-corpus SQL as dedup_incremental/dedup_index_probe — the hash
    IS the append-grown ≡ full-rebuild proof."""
    from .dedup import dedup_against_index

    scoped = _ensure_dedup_append_index(spark, sf_dir)
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    batch = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" steel spark dedup")).alias("text"))
    return dedup_against_index(batch, scoped, threshold=0.5)


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (≥0.99) on the duplicate-augmented
    corpus: LSH-bucketed candidates (8 planes + hamming-1 multiprobe,
    same-label conjunct) verified with exact cosine — the hash-partitioned
    bucket join that replaced r1's blocked all-pairs scale-killer."""
    return cosine_neardup_pairs(_aug_emb(spark, sf_dir), threshold=0.99,
                                n_planes=8, multiprobe=True)


def _sql_emb_neardup(n_planes: int = 8, threshold: float = 0.99) -> str:
    """Oracle mirrors the LSH candidate generation exactly (same md5-derived
    hyperplane literals, same one-sided hamming-1 probes), then the same
    exact-cosine verify — so the comparison checks the bucketed algorithm,
    not just the planted duplicates."""
    planes = hyperplanes(n_planes)
    terms = []
    for p, row in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        terms.append(
            f"CASE WHEN list_dot_product(v, {arr}) > 0 "
            f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END")
    bucket = " + ".join(terms)
    shifts = "[" + ", ".join(str(s)
                             for s in [0] + [1 << i for i in range(n_planes)]) + "]"
    return f"""
WITH {_AUG_EMB_SQL},
b AS (SELECT vec_id, v, label, {bucket} AS bucket FROM corpus),
probes AS (SELECT vec_id, v, label, xor(bucket, sh.s) AS probe
           FROM b, (SELECT unnest({shifts}) AS s) sh)
SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
       round({_COS.format(a='a.v', b='c.v')}, 6) AS cos_sim
FROM probes a JOIN b c
  ON a.probe = c.bucket AND a.label = c.label AND a.vec_id < c.vec_id
WHERE round({_COS.format(a='a.v', b='c.v')}, 6) >= {threshold}
"""


def q_embedding_dedup(spark, sf_dir):
    """End-to-end SEMANTIC dedup over embeddings: LSH near-dup pairs
    (cosine >= 0.99, same plan as embedding_neardup) -> connected
    components -> per-vector cluster id/size plus keeper flag (min vec_id
    per component).  The composition every curation pipeline runs between
    pair generation and the drop; the oracle closes the same pair set with
    a recursive CTE."""
    pairs = cosine_neardup_pairs(_aug_emb(spark, sf_dir), threshold=0.99,
                                 n_planes=8, multiprobe=True)
    cc = connected_components(pairs, src="vec_a", dst="vec_b")
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (cc.join(sizes, "cluster_id")
            .select(F.col("doc_id").alias("vec_id"), "cluster_id",
                    "cluster_size",
                    (F.col("doc_id") == F.col("cluster_id"))
                    .alias("is_keeper")))


def _sql_embedding_dedup() -> str:
    """Recursive-CTE transitive closure over the LSH-verified pair set
    (the same candidate+verify SQL as _sql_emb_neardup)."""
    inner = _sql_emb_neardup(n_planes=8, threshold=0.99)
    # reuse the pair query as a CTE body: strip its WITH and wrap
    body = inner.strip()
    assert body.startswith("WITH")
    return f"""
WITH RECURSIVE {body[len('WITH '):].rsplit('SELECT a.vec_id', 1)[0].rstrip()},
p AS (SELECT a.vec_id{body.rsplit('SELECT a.vec_id', 1)[1]}),
edges AS (SELECT vec_a AS a, vec_b AS b FROM p
          UNION SELECT vec_b, vec_a FROM p),
reach AS (SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
lab AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
        FROM reach GROUP BY a),
sizes AS (SELECT cluster_id, count(*) AS cluster_size
          FROM lab GROUP BY cluster_id)
SELECT l.vec_id, l.cluster_id, s.cluster_size,
       l.vec_id = l.cluster_id AS is_keeper
FROM lab l JOIN sizes s USING (cluster_id)
"""


def q_embedding_neardup_banded(spark, sf_dir):
    """Banded variant of embedding_neardup (8 planes × 4 bands): a pair is
    a candidate if ANY 2-bit band code matches — the high-recall knob for
    wider-angle near-dups (recall ≈ 0.999 at cosine 0.97 vs ~0.92 for
    hamming-1 multiprobe; see pipeline/similarity.py)."""
    return cosine_neardup_pairs(_aug_emb(spark, sf_dir), threshold=0.99,
                                n_planes=8, bands=4)


def _sql_emb_neardup_banded(n_planes: int = 8, bands: int = 4,
                            threshold: float = 0.99) -> str:
    """Oracle mirrors the banded candidate generation: same hyperplane
    bucket code, band codes = bit slices, candidates deduped on ids before
    the exact-cosine verify."""
    planes = hyperplanes(n_planes)
    terms = []
    for p, row in enumerate(planes):
        arr = "[" + ", ".join(repr(x) for x in row) + "]::DOUBLE[]"
        terms.append(
            f"CASE WHEN list_dot_product(v, {arr}) > 0 "
            f"THEN {1 << p}::BIGINT ELSE 0::BIGINT END")
    bucket = " + ".join(terms)
    width = n_planes // bands
    mask = (1 << width) - 1
    return f"""
WITH {_AUG_EMB_SQL},
b AS (SELECT vec_id, v, label, {bucket} AS bucket FROM corpus),
banded AS (
  SELECT vec_id, label, s.bi, (bucket >> (s.bi * {width})) & {mask} AS bc
  FROM b, (SELECT unnest(generate_series(0, {bands - 1})) AS bi) s),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
  FROM banded a JOIN banded c
    ON a.bi = c.bi AND a.bc = c.bc AND a.label = c.label
   AND a.vec_id < c.vec_id)
SELECT p.vec_a, p.vec_b,
       round({_COS.format(a='va.v', b='vb.v')}, 6) AS cos_sim
FROM cand p
JOIN b va ON va.vec_id = p.vec_a
JOIN b vb ON vb.vec_id = p.vec_b
WHERE round({_COS.format(a='va.v', b='vb.v')}, 6) >= {threshold}
"""


def q_fuzzy_match(spark, sf_dir):
    """Typo-tolerant record linkage (pipeline/fuzzy.py): 40-char document
    prefixes form the catalog; the probes are those prefixes for docs
    id<30 with character 11 replaced by 'z' (ids +4000000).  Char-3-gram
    blocked candidates verified with levenshtein ≤ 2 — each probe must
    link back to its source row (dist ≤ 1), plus any natural near-misses.
    Blocking is pigeonhole-exact here: 38 grams ≫ max_dist·n = 6."""
    from .fuzzy import fuzzy_match

    d = load_tables(spark, sf_dir)["documents"]
    catalog = d.select(F.col("doc_id").alias("cat_id"),
                       F.substring("text", 1, 40).alias("title"))
    p = F.substring("text", 1, 40)
    probes = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 4000000).alias("probe_id"),
        F.concat(F.substring(p, 1, 10), F.lit("z"),
                 F.substring(p, 12, 29)).alias("q"))
    return fuzzy_match(probes, catalog, "probe_id", "q", "cat_id", "title",
                       max_dist=2)


def _sql_fuzzy_match(n: int = 3, max_dist: int = 2) -> str:
    from .fuzzy import SQL_CHAR_NGRAM_HASHES

    def grams(expr: str) -> str:
        return SQL_CHAR_NGRAM_HASHES.format(s=expr, n=n, nm1=n - 1)

    return f"""
WITH catalog AS (
  SELECT doc_id AS cat_id, substr(text, 1, 40) AS title FROM documents),
probes AS (
  SELECT doc_id + 4000000 AS probe_id,
         substr(substr(text, 1, 40), 1, 10) || 'z' ||
         substr(substr(text, 1, 40), 12, 29) AS q
  FROM documents WHERE doc_id < 30),
lx AS (SELECT probe_id, q, unnest({grams('q')}) AS h FROM probes),
rx AS (SELECT cat_id, title, unnest({grams('title')}) AS h FROM catalog),
cand AS (SELECT DISTINCT probe_id, q, cat_id, title
         FROM lx JOIN rx USING (h))
SELECT probe_id AS left_id, cat_id AS right_id,
       levenshtein(q, title) AS dist
FROM cand WHERE levenshtein(q, title) <= {max_dist}
"""


# ---------------------------------------------------------------------------
# Curation (repetition quality / decontamination / mixture)
# ---------------------------------------------------------------------------

def q_repetition_quality(spark, sf_dir):
    """Gopher-style repetition filter over documents plus 10 planted
    boilerplate docs (one 2-gram repeated 30×, ids +2000000): per-doc
    top-2-gram coverage and duplicate-5-gram fraction with keep flags —
    the planted docs must fail both thresholds."""
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr("repeat('spark steel ', 30)").alias("text"))
    return repetition_stats(d.unionByName(planted))


def _sql_repetition_quality(top_n: int = 2, dup_n: int = 5) -> str:
    toks = DSQL.tokens("text")

    def pos_grams(n: int) -> str:
        return (f"CASE WHEN len(toks) < {n} THEN []::VARCHAR[] "
                f"ELSE list_transform(generate_series(1, len(toks) - {n - 1}),"
                f" i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' '))"
                f" END")

    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, repeat('spark steel ', 30)
  FROM documents WHERE doc_id < 10),
tk AS (SELECT doc_id, {toks} AS toks FROM corpus),
stats AS (SELECT doc_id, len(toks) AS n_tokens FROM tk),
tg AS (
  SELECT doc_id, max(c) AS top_c FROM (
    SELECT doc_id, g, count(*) AS c
    FROM (SELECT doc_id, unnest({pos_grams(top_n)}) AS g FROM tk)
    GROUP BY doc_id, g)
  GROUP BY doc_id),
dg AS (
  SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dis
  FROM (SELECT doc_id, unnest({pos_grams(dup_n)}) AS g FROM tk)
  GROUP BY doc_id)
SELECT s.doc_id, s.n_tokens,
  round(coalesce(top_c * {top_n} / s.n_tokens, 0.0), 6) AS top{top_n}gram_frac,
  round(coalesce((tot - dis) * 1.0 / tot, 0.0), 6) AS dup{dup_n}gram_frac,
  (round(coalesce(top_c * {top_n} / s.n_tokens, 0.0), 6) <= 0.20
   AND round(coalesce((tot - dis) * 1.0 / tot, 0.0), 6) <= 0.30) AS keep
FROM stats s LEFT JOIN tg USING (doc_id) LEFT JOIN dg USING (doc_id)
"""


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: eval set = docs with doc_id % 50 == 3
    (which ARE in the corpus, so each is fully self-contaminated); every
    corpus doc gets its shared-5-gram count and a contaminated flag at
    min_hits=3."""
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    ev = d.filter(F.col("doc_id") % 50 == 3)
    return decontaminate(d, ev, n=5, min_hits=3)


def _sql_decontaminate(n: int = 5, min_hits: int = 3) -> str:
    hs = DSQL.hashed_shingles("text", n)
    return f"""
WITH ev AS (
  SELECT DISTINCT unnest({hs}) AS h
  FROM documents WHERE doc_id % 50 = 3),
ex AS (SELECT doc_id, unnest({hs}) AS h FROM documents),
hits AS (SELECT ex.doc_id, count(*) AS n_hits
         FROM ex JOIN ev USING (h) GROUP BY ex.doc_id)
SELECT d.doc_id, coalesce(n_hits, 0) AS n_hits,
       coalesce(n_hits, 0) >= {min_hits} AS contaminated
FROM documents d LEFT JOIN hits USING (doc_id)
"""


_MIX_TARGETS = {"src0": 0.4, "src1": 0.3, "src2": 0.2,
                "src3": 0.05, "src4": 0.05}


def q_mixture_resample(spark, sf_dir):
    """Domain-mixture resampling toward a skewed 5-source target (sources
    outside the target get rate 0): deterministic md5 coin, rates derived
    from observed counts inside the plan.  Returns the surviving
    (doc_id, source) rows — hash-checked, so the oracle must pick the
    exact same rows."""
    d = load_tables(spark, sf_dir)["documents"].select("doc_id", "source")
    return mixture_resample(d, _MIX_TARGETS).select("doc_id", "source")


def q_funnel(spark, sf_dir):
    """Ordered conversion funnel (operators/funnel.py): users entering
    view -> click -> purchase, each step anchored at the user's earliest
    qualifying time (an event can't satisfy step i before the user's
    step i-1 entry).  One filtered min-aggregate per step on the user
    key — no per-user event sorting, no windows over the raw stream."""
    from ..operators.funnel import funnel_counts

    ev = load_tables(spark, sf_dir)["events"]
    return funnel_counts(ev, ["view", "click", "purchase"],
                         within="2 hours")


_SQL_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT s1.user_id, t1,
         min(CASE WHEN e.ts >= t1
                   AND e.ts <= t1 + INTERVAL 2 HOUR THEN e.ts END) AS t2
  FROM s1 LEFT JOIN events e
    ON e.user_id = s1.user_id AND e.event_type = 'click'
  GROUP BY s1.user_id, t1),
s3 AS (
  SELECT s2.user_id, t1, t2,
         min(CASE WHEN e.ts >= t2
                   AND e.ts <= t1 + INTERVAL 2 HOUR THEN e.ts END) AS t3
  FROM s2 LEFT JOIN events e
    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
  GROUP BY s2.user_id, t1, t2),
c AS (SELECT count(t1) AS n1, count(t2) AS n2, count(t3) AS n3 FROM s3)
SELECT 1 AS step_idx, 'view' AS step, n1::BIGINT AS n_users,
       round(n1 / CAST(n1 AS DOUBLE), 6) AS conversion_from_first FROM c
UNION ALL
SELECT 2, 'click', n2::BIGINT, round(n2 / CAST(n1 AS DOUBLE), 6) FROM c
UNION ALL
SELECT 3, 'purchase', n3::BIGINT, round(n3 / CAST(n1 AS DOUBLE), 6) FROM c
"""


def q_event_transitions(spark, sf_dir):
    """First-order event-type transition counts (Markov sequence stats):
    per user, each event paired with the next by (ts, event_id) order via
    one lead() window, rolled up to (from_type, to_type, n, share).  The
    sequence-statistics shape behind session modeling; one user-key
    exchange, one rollup."""
    ev = load_tables(spark, sf_dir)["events"]
    w = window_spec(partition_by=["user_id"],
                    order_by=[F.col("ts").asc(), F.col("event_id").asc()])
    nxt = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
    pairs = nxt.filter(F.col("to_type").isNotNull())
    totals = pairs.groupBy("from_type").agg(
        F.count(F.lit(1)).alias("_tot"))
    return (pairs.groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .join(F.broadcast(totals), "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n") / F.col("_tot"), 6).alias("share")))


_SQL_TRANSITIONS = """
WITH nxt AS (
  SELECT event_type AS from_type,
    lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS to_type
  FROM events),
pairs AS (SELECT * FROM nxt WHERE to_type IS NOT NULL),
tot AS (SELECT from_type, count(*) AS t FROM pairs GROUP BY from_type)
SELECT p.from_type, p.to_type, count(*) AS n,
       round(count(*) / CAST(t AS DOUBLE), 6) AS share
FROM pairs p JOIN tot USING (from_type)
GROUP BY p.from_type, p.to_type, t
"""


def q_cohort_retention(spark, sf_dir):
    """Weekly cohort retention triangle (operators/funnel.py
    cohort_retention): users bucketed by first-activity week, retention =
    share active in each later week.  Two aggregations on the user key +
    one (cohort, offset) rollup; the DuckDB oracle mirrors the integer
    week arithmetic exactly."""
    from ..operators.funnel import cohort_retention

    ev = load_tables(spark, sf_dir)["events"]
    return cohort_retention(ev, granularity="week", max_offset=8)


_SQL_COHORT = """
WITH act AS (
  SELECT DISTINCT user_id,
    CAST(floor(date_diff('day', DATE '2020-01-06', ts::DATE) / 7.0)
         AS BIGINT) AS p
  FROM events),
first AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY user_id),
sizes AS (SELECT cohort, count(*) AS cohort_size FROM first GROUP BY cohort),
j AS (
  SELECT f.cohort, a.p - f.cohort AS period_offset
  FROM act a JOIN first f USING (user_id)
  WHERE a.p - f.cohort <= 8)
SELECT j.cohort, j.period_offset, count(*) AS n_active, s.cohort_size,
       round(count(*) / CAST(s.cohort_size AS DOUBLE), 6) AS retention
FROM j JOIN sizes s USING (cohort)
GROUP BY j.cohort, j.period_offset, s.cohort_size
"""


__all__ = [
    'q_text_stats',
    '_SQL_TEXT_STATS',
    'q_text_quality_by_source',
    '_SQL_TEXT_QUALITY',
    'q_pii_redact',
    '_sql_pii_redact',
    'q_stratified_sample',
    '_sql_stratified_sample',
    'q_hash_split',
    'q_domain_cap',
    '_sql_domain_cap',
    'q_shard_assignment',
    '_sql_shard_assignment',
    '_sql_hash_split',
    'q_weighted_sample',
    '_sql_weighted_sample',
    'q_sequence_packing',
    '_sql_sequence_packing',
    'q_dedup_exact',
    '_SQL_DEDUP_EXACT',
    'q_dedup_minhash',
    '_sql_dedup_minhash',
    'q_dedup_incremental',
    '_sql_dedup_incremental',
    'q_dedup_simhash_fingerprints',
    '_sql_simhash_fps',
    'q_dedup_simhash_pairs',
    '_sql_simhash_pairs',
    'q_dedup_clusters',
    '_sql_dedup_clusters',
    'q_dedup_apply',
    '_sql_dedup_apply',
    'q_dedup_keep_best',
    '_sql_dedup_keep_best',
    'q_dedup_clusters_twophase',
    '_ensure_dedup_index',
    'q_dedup_index_probe',
    'q_dedup_ngram_jaccard',
    '_sql_ngram_jaccard',
    'q_similarity_topk',
    '_SQL_SIM_TOPK',
    'q_similarity_ivf',
    'q_ann_recall',
    '_SQL_SIM_IVF',
    'q_ann_index_probe',
    '_ensure_ann_append_index',
    'q_ann_index_append',
    '_SQL_ANN_INDEX_APPEND',
    '_ensure_dedup_append_index',
    'q_dedup_index_append',
    'q_embedding_neardup',
    '_sql_emb_neardup',
    'q_embedding_dedup',
    '_sql_embedding_dedup',
    'q_embedding_neardup_banded',
    '_sql_emb_neardup_banded',
    'q_fuzzy_match',
    '_sql_fuzzy_match',
    'q_repetition_quality',
    '_sql_repetition_quality',
    'q_decontaminate',
    '_sql_decontaminate',
    '_MIX_TARGETS',
    'q_mixture_resample',
    'q_funnel',
    '_SQL_FUNNEL',
    'q_event_transitions',
    '_SQL_TRANSITIONS',
    'q_cohort_retention',
    '_SQL_COHORT',
]
