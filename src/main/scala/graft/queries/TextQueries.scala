package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.functions.TextFunctions._
import graft.operators.{Curation, Dedup}
import graft.runtime.Tables

/** Training-data text operators over the `documents` table: token stats,
  * exact/near dedup (prefix key, n-gram Jaccard, MinHash+LSH, SimHash),
  * language ID, quality scoring, fingerprinting.
  *
  * Oracle notes: the DuckDB twins build shingles with a bounded
  * cross-join on range(1,64) + filter (documents are short); the Spark
  * side uses sequence/transform. Both produce identical (id, shingle)
  * relations, so Jaccard numbers match exactly (integer ratios).
  */
object TextQueries extends QueryPack {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "documents")

  // Hashed-payload projection for jaccard pair relations: the raw double
  // drives the threshold (portable — exact-integer division), the
  // compared payload carries its fixed-point image (engine-exact long).
  private def jaccardPayload(df: DataFrame): DataFrame =
    df.select(F.col("a_id"), F.col("b_id"), F.col("shared"),
      scaledLong(F.col("jaccard"), 4).as("j_e4"))

  // DuckDB-side twin of jaccardPayload's fixed-point projection.
  private val jE4Sql = "CAST(floor(jaccard * 10000 + 0.5) AS BIGINT) AS j_e4"

  // DuckDB-side twin of TextFunctions.qualityMicro: the fixed-point
  // quality in [0, 1e6] from PURE BIGINT arithmetic (// is DuckDB's
  // integer floor division). No double appears anywhere, so the values
  // are bit-identical to Spark's by construction — the only safe shape
  // after round 7 showed floor(raw_double·1e6+0.5) diverging across
  // engines on half-micro-boundary scores.
  private val oracleQualityMicro =
    """qm AS (
         SELECT doc_id, lang, ntok,
           least(ntok * 20000, 400000)
             + (300000 - (n_punct * 300000) // n_chars)
             + least((n_stop * 1500000) // ntok, 300000) AS q_u
         FROM (SELECT doc_id, lang,
             CAST(array_length(w) AS BIGINT) AS ntok,
             greatest(CAST(length(text) AS BIGINT), 1) AS n_chars,
             CAST(length(regexp_replace(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
             CAST(len(list_filter(w, t -> t IN ('the','a','of','and','is','in','to'))) AS BIGINT) AS n_stop
           FROM (SELECT doc_id, lang, text,
             regexp_split_to_array(trim(text), '\s+') AS w FROM documents)))"""

  // DuckDB-side shingle relation (word trigrams, distinct per doc).
  private val oracleShingles =
    """sh AS (
         SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
              (SELECT unnest(range(1, 512)) AS i)
         WHERE i <= array_length(w) - 2),
       cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + per-language corpus stats.
    "qd01_token_stats" -> ((s, d) => {
      docs(s, d)
        .select(F.col("lang"), tokenCount(F.col("text")).as("n_tok"), F.col("n_chars"))
        .groupBy("lang")
        .agg(
          F.count(F.lit(1)).as("n_docs"),
          F.sum("n_tok").cast("long").as("sum_tokens"),
          F.sum("n_chars").cast("long").as("sum_chars"),
          F.max("n_tok").as("max_tokens"))
        .orderBy("lang")
    }),

    // Exact dedup on a normalized prefix key (8 tokens): duplicate groups
    // with deterministic min-id representative.
    "qd02_exact_dedup" -> ((s, d) => {
      Dedup.exactDuplicateGroups(docs(s, d), "doc_id", prefixFingerprint(F.col("text"), 8))
        .orderBy("dup_key")
    }),

    // Global dedup summary: distinct full texts / content fingerprints.
    "qd03_dedup_summary" -> ((s, d) => {
      docs(s, d).agg(
        F.count(F.lit(1)).as("n_docs"),
        F.countDistinct(F.md5(F.col("text"))).as("n_distinct_texts"),
        F.countDistinct(contentFingerprint(F.col("text"))).as("n_distinct_bags"),
        F.countDistinct(prefixFingerprint(F.col("text"), 8)).as("n_distinct_prefix8"))
    }),

    // Language-ID confusion matrix (declared lang × predicted lang).
    "qd04_lang_id" -> ((s, d) => {
      docs(s, d)
        .select(F.col("lang"), langId(F.col("text")).as("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    }),

    // Quality-score histogram (decile buckets). Buckets, counts, AND the
    // per-bucket quality sums all derive from the all-integer
    // [[TextFunctions.qualityMicro]] — no double is ever floored, so no
    // engine ULP difference can move a doc across a bucket edge or
    // perturb a sum (the round-7 lesson: even floor(raw·1e6+0.5) over the
    // raw double diverged between Spark and the driver's DuckDB on
    // half-micro-boundary scores).
    "qd05_quality_score" -> ((s, d) => {
      docs(s, d)
        .select(qualityMicro(F.col("text")).as("q_u"))
        .withColumn("bucket", exactDiv(F.col("q_u"), F.lit(100000L)).cast("int"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).as("n"),
          F.sum("q_u").as("sum_q_u"))
        .orderBy("bucket")
    }),

    // Brute-force word-trigram Jaccard near-dup pairs (J >= 0.3).
    "qd06_jaccard_pairs" -> ((s, d) => {
      jaccardPayload(Dedup.jaccardPairs(docs(s, d), "doc_id", "text", 3, 0.3))
        .orderBy("a_id", "b_id")
    }),

    // Skew-bounded Jaccard: hot shingles (doc-freq > 3) dropped from
    // candidate generation only; verification recomputes exact Jaccard
    // over the full shingle relation, so emitted values are identical to
    // qd06's for every surviving pair (at this corpus: ALL of them — the
    // flag bounds the worst bucket without costing a single true pair).
    "qd12_jaccard_cooled" -> ((s, d) => {
      jaccardPayload(Dedup.jaccardPairs(docs(s, d), "doc_id", "text", 3, 0.3,
          maxDocFreq = 3))
        .orderBy("a_id", "b_id")
    }),

    // MinHash+LSH near-dup pipeline verified with exact Jaccard at
    // J >= 0.6 — banding (32×2 over 64 hashes) has recall ~1-3e-7 at
    // 0.6, so the result equals the brute-force oracle.
    "qd07_minhash_lsh" -> ((s, d) => {
      jaccardPayload(Dedup.minhashNearDupPairs(docs(s, d), "doc_id", "text", 3, 0.6))
        .orderBy("a_id", "b_id")
    }),

    // SimHash near-dup pairs, fully oracle-checked: the portable
    // md5-derived 60-bit hash family lets DuckDB re-derive the identical
    // signatures and brute-force hamming<=3 pairs; chunk banding is exact
    // for hamming<=3, so the banded Spark result equals the brute-force
    // oracle. The xxhash64 production family is covered by DedupSpec.
    "qd08_simhash" -> ((s, d) => {
      Dedup.simhashNearDupPairs(docs(s, d), "doc_id", "text", 3,
          tokenHash = portableHash64, bits = 60)
        .orderBy("a_id", "b_id")
    }),

    // UDTF surface: explode tokens → corpus word count (top 20).
    "qd10_word_count" -> ((s, d) => {
      docs(s, d)
        .select(F.explode(tokens(F.col("text"))).as("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).as("n"))
        .orderBy(F.col("n").desc, F.col("token"))
        .limit(20)
    }),

    // collect_set with deterministic ordering: sources per language.
    "qd11_collect_set" -> ((s, d) => {
      docs(s, d)
        .groupBy("lang")
        .agg(F.concat_ws(",", F.array_sort(F.collect_set(F.col("source")))).as("sources"),
          F.countDistinct(F.col("source")).as("n_sources"))
        .orderBy("lang")
    }),

    // Rolling-hash + content fingerprints, fully oracle-checked: DuckDB
    // folds the identical portable token hashes with list_reduce. The
    // xxhash64 production family is covered by ScalaTest.
    "qd09_fingerprints" -> ((s, d) => {
      docs(s, d)
        .select(
          F.col("doc_id"),
          rollingHash(F.col("text"), tokenHash = portableHash64).as("rolling_hash"),
          contentFingerprint(F.col("text")).as("content_fp"))
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: training docs sharing any word 4-gram
    // with the "benchmark" slice (doc_id % 20 == 0 stands in for the eval
    // suite). Broadcast semi-structure: the corpus side never shuffles
    // before the per-doc aggregation.
    "qd13_decontaminate" -> ((s, d) => {
      val all = docs(s, d)
      Curation.decontaminate(
          all.filter(F.col("doc_id") % 20 =!= 0),
          all.filter(F.col("doc_id") % 20 === 0),
          "doc_id", "text", 4)
        .orderBy("doc_id")
    }),

    // Graded contamination: benchmark-overlap FRACTION for every train
    // doc (qd13 flags; this measures — the threshold-picking signal).
    "qd30_contamination_score" -> ((s, d) => {
      val all = docs(s, d)
      Curation.contaminationScore(
          all.filter(F.col("doc_id") % 20 =!= 0),
          all.filter(F.col("doc_id") % 20 === 0),
          "doc_id", "text", 4)
        .withColumn("overlap_e4", scaledLong(F.col("overlap_frac"), 4))
        .drop("overlap_frac")
        .orderBy("doc_id")
    }),

    // Okapi BM25 retrieval: top-15 docs for a 3-term query — tf
    // saturation + length normalization over the corpus posting lists.
    // The oracle recomputes idf/tf/dl/avgdl from the same whitespace
    // tokens; ties cut on (rounded score, doc_id) in both engines.
    "qd31_bm25" -> ((s, d) => {
      Curation.bm25TopDocs(docs(s, d), "doc_id", "text",
          queryTerms = Seq("spark", "hash", "join"), k = 15)
    }),

    // Pattern redaction (PII-scrub surface): per-doc match count + md5 of
    // the redacted text proves byte-identical replacement vs the oracle.
    // The synthetic corpus carries no real PII, so the oracle query scrubs
    // a denylist term pair; the real PII patterns (email/phone/SSN/IPv4)
    // are exercised on planted fixtures in CurationSpec.
    "qd14_redact" -> ((s, d) => {
      val pat = "\\b(customer|supplier)\\b"
      Curation.redact(docs(s, d).filter(F.col("text").rlike(pat)), "text",
          patterns = Seq(pat))
        .select(
          F.col("doc_id"),
          F.col("n_redacted").as("n_matches"),
          F.md5(F.col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Token-budget sequence packing: chunked concatenation in doc_id
    // order, 512-token sequences. bucketSize=64 forces the multi-bucket
    // distributed-prefix path even on the small gate corpus.
    "qd15_pack_sequences" -> ((s, d) => {
      Curation.packSequences(docs(s, d), "doc_id", tokenCount(F.col("text")),
          budget = 512, bucketSize = 64)
        .orderBy("doc_id")
    }),

    // Deterministic per-domain downsampling: engine-portable hash decision
    // per (seed, doc_id), per-language keep rates.
    "qd16_downsample" -> ((s, d) => {
      Curation.downsampleByDomain(docs(s, d), "doc_id", "lang",
          rates = Map("en" -> 90, "es" -> 60, "fr" -> 60, "de" -> 40),
          defaultRate = 20, seed = "s7")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Near-dup CLUSTERS: jaccard pairs (same edges as qd06) → distributed
    // connected components → per-doc component assignment with min-id
    // representatives. The oracle re-derives components with a recursive
    // reachability CTE — transitive closure is exactly what the iterative
    // Spark loop computes, so labels match node for node.
    "qd17_dup_clusters" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.jaccardPairs(dd, "doc_id", "text", 3, 0.3).select("a_id", "b_id")
      val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
        .withColumnRenamed("id", "doc_id")
      val assigned = dd.select("doc_id").join(cc, Seq("doc_id"), "left")
        .select(F.col("doc_id"),
          F.coalesce(F.col("comp"), F.col("doc_id")).as("component"))
      val sizes = assigned.groupBy("component").agg(F.count(F.lit(1)).as("cluster_size"))
      assigned.join(sizes, "component")
        .select(F.col("doc_id"), F.col("component"), F.col("cluster_size"),
          (F.col("doc_id") === F.col("component")).cast("int").as("is_rep"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition filters: duplicate-token fraction, top-bigram
    // character coverage, duplicate-trigram character fraction, plus the
    // keep/drop decision at the documented thresholds.
    "qd18_repetition" -> ((s, d) => {
      Curation.repetitionStats(docs(s, d), "doc_id", "text")
        .select(F.col("doc_id"), F.col("n_tok").cast("long").as("n_tok"),
          scaledLong(F.col("dup_tok_frac"), 4).as("dup_tok_e4"),
          F.col("top_bigram"),
          scaledLong(F.col("top_bigram_frac"), 4).as("top_bigram_e4"),
          scaledLong(F.col("dup_trigram_frac"), 4).as("dup_trigram_e4"),
          F.col("keep"))
        .orderBy("doc_id")
    }),

    // Incremental-ingest dedup: a 20% "new batch" slice classified against
    // the historical 80% — exact tier on the 8-token prefix fingerprint
    // (qd02's dup key), near tier = bipartite MinHash+LSH verified at
    // J >= 0.6 (recall ≈ 1 at these band settings, so the LSH result
    // equals the oracle's brute-force bipartite join).
    "qd20_incremental_dedup" -> ((s, d) => {
      val all = docs(s, d)
      val batch = all.filter(F.col("doc_id") % 5 === 4)
      val hist = all.filter(F.col("doc_id") % 5 =!= 4)
      Dedup.dedupAgainst(batch, hist, "doc_id", "text", 3, 0.6,
          prefixFingerprint(F.col("text"), 8))
        .orderBy("doc_id")
    }),

    // Quality-weighted deterministic sampling: keep probability
    // 0.1 + 0.9·quality, decided by the engine-portable (seed, doc_id)
    // hash against the INTEGER micro-quality — decision and payload are
    // both pure long arithmetic the oracle re-derives bit-for-bit.
    "qd21_quality_sample" -> ((s, d) => {
      Curation.qualityWeightedSample(docs(s, d), "doc_id", "text", "s9", 0.1, 1.0)
        .select(F.col("doc_id"), F.col("lang"),
          qualityMicro(F.col("text")).as("q_u"))
        .orderBy("doc_id")
    }),

    // Deterministic training-order shuffle: shard + in-shard position as
    // pure functions of (seed, doc_id); the oracle re-derives the same
    // hash ordering.
    "qd22_corpus_shuffle" -> ((s, d) => {
      Curation.deterministicShuffle(docs(s, d).select("doc_id"), "doc_id", "ep0", 8)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }),

    // Corpus-relative unigram log-prob (perplexity-filter stand-in):
    // global token frequencies → per-doc mean of -ln(count/total).
    "qd23_unigram_logprob" -> ((s, d) => {
      Curation.unigramLogProb(docs(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Per-doc TF-IDF keywords (top 3, lexicographic tie-break).
    "qd24_tfidf_terms" -> ((s, d) => {
      Curation.tfidfTopTerms(docs(s, d), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    }),

    // Exact per-language quality quota via the map-side-combining
    // TopKAggregate ("the 25 best docs per language" — a count, where
    // qd16/qd21 keep a rate). Oracle re-ranks with a row_number window.
    // Ranks by the integer micro-quality (cast to the aggregate's double
    // slot — exact for values ≤ 1e6), so rank AND payload are
    // engine-deterministic.
    "qd26_domain_quota" -> ((s, d) => {
      Curation.domainQuota(docs(s, d), "doc_id", "lang",
          qualityMicro(F.col("text")).cast("double"), quota = 25)
        .withColumn("quality_u", F.col("quality").cast("long"))
        .drop("quality")
        .orderBy("lang", "rank")
    }),

    // Fixed token-budget chunking with overlap (the complement of qd15's
    // packing): chunk i covers whitespace tokens [i*45, i*45 + 60), so
    // consecutive chunks share 15 tokens. The oracle re-derives identical
    // boundaries with 1-based inclusive list slicing.
    "qd25_chunk_documents" -> ((s, d) => {
      Curation.chunkDocuments(docs(s, d), "doc_id", "text",
          chunkSize = 60, overlap = 15)
        .withColumn("chunk_md5", F.md5(F.col("chunk_text")))
        .drop("chunk_text")
        .orderBy("doc_id", "chunk_idx")
    }),

    // Quality-ordered token-budget selection: keep the best docs until
    // the running token total crosses 8000 — greedy by (quality DESC,
    // doc_id). The oracle recomputes the same quality score and a global
    // window cumsum; the Spark side reconstructs that cumsum with the
    // range-partitioned two-level scan (no single-partition window).
    // The greedy ordering runs on the ALL-INTEGER micro-quality (no
    // double ever enters — round 7 proved floor(raw·1e6+0.5) still
    // inherits the raw double's engine ULPs at half-micro boundaries),
    // so ordering, cumsum, AND the hashed payload are exact longs — no
    // engine arithmetic difference can flip a row.
    "qd28_token_budget" -> ((s, d) => {
      Curation.selectByTokenBudget(docs(s, d), "doc_id",
          qualityMicro(F.col("text")),
          tokenCount(F.col("text")), budget = 8000L)
        .withColumnRenamed("quality", "quality_u")
        .orderBy("doc_id")
    }),

    // Leakage-safe 80/10/10 split: near-dup clusters (qd17's pairs at
    // J >= 0.3) move to a split as a unit, singletons hash their own id.
    "qd29_leakage_split" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.jaccardPairs(dd, "doc_id", "text", 3, 0.3)
        .select("a_id", "b_id")
      Curation.leakageSafeSplit(dd.select("doc_id"), "doc_id", pairs,
          Seq(("train", 80), ("val", 10), ("test", 10)), "sp6")
        .select("doc_id", "component", "split")
        .orderBy("doc_id")
    }),

    // The SCALE tier of qd29, driver-checked end to end: split pairs come
    // from the MinHash+LSH generator (band-bucket candidates → exact
    // verify) — the generator that actually runs at 100 TB — instead of
    // the brute-force shingle self-join. At J >= 0.6 the 32×2 band
    // settings' recall is ~1-3e-7 (qd07's contract), so components and
    // split assignment equal the oracle's brute-force derivation exactly.
    "qd32_leakage_split_lsh" -> ((s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.minhashNearDupPairs(dd, "doc_id", "text", 3, 0.6)
        .select("a_id", "b_id")
      Curation.leakageSafeSplit(dd.select("doc_id"), "doc_id", pairs,
          Seq(("train", 80), ("val", 10), ("test", 10)), "sp7")
        .select("doc_id", "component", "split")
        .orderBy("doc_id")
    }),

    // Repeated-span scrub (exact-substring boilerplate removal): every
    // 8-token span shared by >= 2 docs is deleted from ALL of them, docs
    // rebuilt from surviving tokens. md5 of the rewritten text keeps the
    // compared payload narrow.
    "qd27_span_scrub" -> ((s, d) => {
      Curation.scrubRepeatedSpans(docs(s, d), "doc_id", "text", n = 8, minDf = 2)
        .select(F.col("doc_id"),
          F.col("n_tok_before").cast("long").as("n_tok_before"),
          F.col("n_tok_after").cast("long").as("n_tok_after"),
          F.md5(F.col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Exact-substring DEDUP (keep the min-doc_id canonical copy, scrub
    // the rest) — the policy complement of qd27's remove-everywhere
    // boilerplate scrub; same output shape so the two are comparable.
    "qd33_span_dedup" -> ((s, d) => {
      Curation.dedupRepeatedSpans(docs(s, d), "doc_id", "text", n = 8, minDf = 2)
        .select(F.col("doc_id"),
          F.col("n_tok_before").cast("long").as("n_tok_before"),
          F.col("n_tok_after").cast("long").as("n_tok_after"),
          F.md5(F.col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // Per-class PII scrub, oracle-gated end to end: the corpus carries no
    // real PII (qd14's denylist covers the oracle for that reason), so a
    // deterministic synthetic block — email, two phone forms, an SSN-shaped
    // id, an IPv4 — is appended per doc (qd19's injection pattern), then
    // every class is counted on the original text and redacted in
    // piiPatterns order. The md5 payload proves byte-identical replacement
    // spans; the per-class counts prove match parity class by class
    // (previously only spec-gated on planted fixtures).
    "qd34_pii_classes" -> ((s, d) => {
      val Seq(emailP, phoneP, ssnP, ipP) = Curation.piiPatterns
      val inj = docs(s, d).withColumn("text", F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com, call (555) 867-5309 or 555-014-"),
        F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0"),
        F.lit(", ssn 123-45-6789, host 10."),
        F.pmod(F.col("doc_id"), F.lit(200)).cast("string"),
        F.lit(".0.7 end")))
      Curation.redact(inj, "text")
        .select(F.col("doc_id"),
          F.regexp_count(F.col("text"), F.lit(emailP)).cast("long").as("n_email"),
          F.regexp_count(F.col("text"), F.lit(phoneP)).cast("long").as("n_phone"),
          F.regexp_count(F.col("text"), F.lit(ssnP)).cast("long").as("n_ssn"),
          F.regexp_count(F.col("text"), F.lit(ipP)).cast("long").as("n_ip"),
          F.md5(F.col("redacted")).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Canonical text normalization (NFC → control strip → space collapse
    // → trim → lower) through the native nfc_normalize codegen
    // expression. The corpus is ASCII-light on combining marks, so an
    // NFD suffix (e + U+0301, I + U+0308), mixed case, a tab, and double
    // spaces are appended per doc — every normalization step must fire
    // and the md5 proves byte parity with DuckDB's standard-defined
    // nfc_normalize.
    "qd35_normalize_text" -> ((s, d) => {
      val t = F.concat(F.col("text"), F.lit("  Cafe\u0301 NAI\u0308VE\ttest  "))
      docs(s, d)
        .select(F.col("doc_id"),
          F.md5(normalizeText(t)).as("norm_md5"),
          F.length(normalizeText(t)).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    }),

    // Training-mix construction: per-source epoch weights (3.4 epochs of
    // src0, a quarter epoch of src1, src2 dropped, 1.5 of src3, one
    // epoch elsewhere — a GPT-3/LLaMA-style mixing table). Replica set
    // is a pure function of (seed, weights); the oracle re-derives every
    // copy from the same hash.
    "qd36_corpus_mix" -> ((s, d) => {
      Curation.mixByWeights(docs(s, d).select("doc_id", "source"),
          "doc_id", "source",
          weights = Map("src0" -> 3.4, "src1" -> 0.25, "src2" -> 0.0, "src3" -> 1.5),
          defaultWeight = 1.0, seed = "mx1")
        .orderBy("doc_id", "copy")
    }),

    // Subword (BPE-ish regex) vs whitespace token counting. The corpus is
    // pure lowercase words, where the two modes coincide — a punctuated
    // suffix is appended per doc so the subword split genuinely diverges
    // and the oracle must reproduce the exact regex semantics.
    "qd19_bpe_tokens" -> ((s, d) => {
      val punct = F.concat(F.col("text"), F.lit(". the-end v2.0!"))
      docs(s, d)
        .select(F.col("lang"),
          tokenCount(punct).as("n_ws"), bpeTokenCount(punct).as("n_bpe"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).as("docs"),
          F.sum("n_ws").as("ws_tokens"),
          F.sum("n_bpe").as("bpe_tokens"))
        .orderBy("lang")
    })
  )

  // DuckDB twin of the portable 60-bit SimHash pipeline (qd08): re-derive
  // per-token hashes from md5, per-doc sign-bit sums, assemble the
  // signature with shifts (bit 59 max — DuckDB's 1<<63 overflows), then
  // brute-force all-pairs hamming <= 3. Generated programmatically so the
  // 60 bit terms stay in lockstep with Dedup.simhash.
  private val simhashOracle: String = {
    val bitSums = (0 until 60)
      .map(b => s"sum(CASE WHEN (hv >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val sigTerms = (0 until 60)
      .map(b => s"(CASE WHEN s$b >= 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH toks AS (
         SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         FROM documents),
       h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv FROM toks),
       bits AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
       sigs AS (SELECT doc_id, $sigTerms AS sig FROM bits)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
       FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.sig, b.sig)) <= 3
       ORDER BY a_id, b_id"""
  }

  def oracle: Map[String, String] = Map(
    "qd31_bm25" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         st AS (SELECT count(*) AS nd, avg(dl) AS avgdl FROM dl),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
                WHERE term IN ('spark', 'hash', 'join') GROUP BY doc_id, term),
         dfr AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term)
         SELECT doc_id, count(*) AS n_terms,
           round(sum(
             ln(1.0 + (nd - dfreq + 0.5) / (dfreq + 0.5))
             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
           ), 4) AS bm25
         FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id), st
         GROUP BY doc_id
         ORDER BY bm25 DESC, doc_id LIMIT 15""",
    "qd30_contamination_score" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
                (SELECT unnest(range(1, 512)) AS i)
           WHERE i <= array_length(w) - 3),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         train AS (SELECT * FROM sh WHERE doc_id % 20 <> 0),
         tot AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
         shr AS (SELECT t.doc_id, count(*) AS n_shared
                 FROM train t JOIN bench b ON t.shingle = b.shingle
                 GROUP BY t.doc_id)
         SELECT tot.doc_id,
           tot.n_shingles,
           coalesce(shr.n_shared, 0) AS n_shared,
           CAST(floor(CAST(coalesce(shr.n_shared, 0) AS DOUBLE) / tot.n_shingles
             * 10000 + 0.5) AS BIGINT) AS overlap_e4
         FROM tot LEFT JOIN shr ON shr.doc_id = tot.doc_id
         ORDER BY tot.doc_id""",
    "qd13_decontaminate" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS shingle
           FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
                (SELECT unnest(range(1, 512)) AS i)
           WHERE i <= array_length(w) - 3),
         bench AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 20 = 0),
         train AS (SELECT * FROM sh WHERE doc_id % 20 <> 0)
         SELECT t.doc_id AS doc_id,
           count(DISTINCT t.shingle) AS n_shared_shingles,
           count(DISTINCT b.bench_id) AS n_bench_docs
         FROM train t JOIN bench b ON t.shingle = b.shingle
         GROUP BY t.doc_id ORDER BY doc_id""",
    "qd14_redact" ->
      """SELECT doc_id,
         len(regexp_extract_all(text, '\b(customer|supplier)\b')) AS n_matches,
         md5(regexp_replace(text, '\b(customer|supplier)\b', '[REDACTED]', 'g')) AS redacted_md5
         FROM documents
         WHERE regexp_matches(text, '\b(customer|supplier)\b')
         ORDER BY doc_id""",
    "qd15_pack_sequences" ->
      """SELECT doc_id, CAST(n_tok AS INTEGER) AS n_tok,
         CAST(start_offset AS BIGINT) AS start_offset,
         CAST(floor(start_offset / 512.0) AS BIGINT) AS seq_id FROM (
           SELECT doc_id, array_length(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
             coalesce(sum(array_length(regexp_split_to_array(trim(text), '\s+')))
               OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_offset
           FROM documents)
         ORDER BY doc_id""",
    "qd26_domain_quota" ->
      s"""WITH $oracleQualityMicro
         SELECT lang, CAST(rn AS INTEGER) AS rank, doc_id, q_u AS quality_u FROM (
           SELECT lang, doc_id, q_u,
             row_number() OVER (PARTITION BY lang ORDER BY q_u DESC, doc_id) AS rn
           FROM qm)
         WHERE rn <= 25 ORDER BY lang, rank""",
    "qd25_chunk_documents" ->
      """SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
         CAST(len(w[i*45+1 : i*45+60]) AS INTEGER) AS n_tokens,
         md5(array_to_string(w[i*45+1 : i*45+60], ' ')) AS chunk_md5
         FROM (
           SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS i
           FROM (
             SELECT doc_id, w,
               CASE WHEN len(w) <= 60 THEN 1
                    ELSE 1 + CAST(ceil((len(w) - 60) / 45.0) AS INTEGER) END AS nc
             FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)))
         ORDER BY doc_id, chunk_idx""",
    "qd16_downsample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CAST('0x' || substr(md5('s7-' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 <
           CASE lang WHEN 'en' THEN 90 WHEN 'es' THEN 60 WHEN 'fr' THEN 60 WHEN 'de' THEN 40 ELSE 20 END
         ORDER BY doc_id""",
    "qd17_dup_clusters" ->
      s"""WITH RECURSIVE $oracleShingles,
         pairs AS (
           SELECT a_id, b_id FROM (
             SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS DOUBLE) /
                 (any_value(ca.n_sh) + any_value(cb.n_sh) - count(*)) AS jaccard
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             JOIN cnt ca ON ca.doc_id = a.doc_id
             JOIN cnt cb ON cb.doc_id = b.doc_id
             GROUP BY a.doc_id, b.doc_id)
           WHERE jaccard >= 0.3),
         edges AS (SELECT a_id AS a, b_id AS b FROM pairs
                   UNION ALL SELECT b_id AS a, a_id AS b FROM pairs),
         reach(id, r) AS (
           SELECT a, b FROM edges
           UNION
           SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
         comp AS (
           SELECT d.doc_id, least(d.doc_id, coalesce(min(r.r), d.doc_id)) AS component
           FROM documents d LEFT JOIN reach r ON r.id = d.doc_id
           GROUP BY d.doc_id),
         sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         SELECT c.doc_id, c.component, s.cluster_size,
           CAST(c.doc_id = c.component AS INT) AS is_rep
         FROM comp c JOIN sizes s ON s.component = c.component
         ORDER BY c.doc_id""",
    "qd18_repetition" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w,
             length(trim(text)) AS tlen
           FROM documents),
         base AS (SELECT doc_id, len(w) AS n_tok, len(list_distinct(w)) AS n_dis, tlen FROM toks),
         g2 AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
                FROM toks, (SELECT unnest(range(1, 512)) AS i) WHERE i <= len(w) - 1),
         c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g),
         top2 AS (SELECT doc_id, g AS top_bigram, c AS top_c FROM (
             SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn FROM c2)
           WHERE rn = 1),
         g3 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
                FROM toks, (SELECT unnest(range(1, 512)) AS i) WHERE i <= len(w) - 2),
         c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g),
         d3 AS (SELECT doc_id,
             CAST(sum(CASE WHEN c > 1 THEN c * length(g) ELSE 0 END) AS DOUBLE) /
               sum(c * length(g)) AS dup_trigram_frac
           FROM c3 GROUP BY doc_id)
         SELECT doc_id, n_tok,
           CAST(floor(dup_tok_frac * 10000 + 0.5) AS BIGINT) AS dup_tok_e4,
           top_bigram,
           CAST(floor(top_bigram_frac * 10000 + 0.5) AS BIGINT) AS top_bigram_e4,
           CAST(floor(dup_trigram_frac * 10000 + 0.5) AS BIGINT) AS dup_trigram_e4,
           CAST(coalesce(dup_tok_frac <= 0.65, TRUE)
             AND coalesce(top_bigram_frac <= 0.10, TRUE)
             AND coalesce(dup_trigram_frac <= 0.05, TRUE) AS INT) AS keep
         FROM (
           SELECT b.doc_id, b.n_tok,
             CAST(b.n_tok - b.n_dis AS DOUBLE) / b.n_tok AS dup_tok_frac,
             t.top_bigram,
             CAST(t.top_c * length(t.top_bigram) AS DOUBLE) / b.tlen AS top_bigram_frac,
             d.dup_trigram_frac
           FROM base b
           LEFT JOIN top2 t ON t.doc_id = b.doc_id
           LEFT JOIN d3 d ON d.doc_id = b.doc_id)
         ORDER BY doc_id""",
    "qd20_incremental_dedup" ->
      s"""WITH $oracleShingles,
         fp AS (SELECT doc_id,
             md5(array_to_string((regexp_split_to_array(trim(text), '\\s+'))[1:8], ' ')) AS f
           FROM documents),
         b AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 4),
         h AS (SELECT doc_id FROM documents WHERE doc_id % 5 <> 4),
         ex AS (SELECT bf.doc_id, min(hf.doc_id) AS exact_match
                FROM fp bf JOIN b ON b.doc_id = bf.doc_id
                JOIN fp hf ON hf.f = bf.f JOIN h ON h.doc_id = hf.doc_id
                GROUP BY bf.doc_id),
         nr AS (SELECT a_id AS doc_id, min(b_id) AS near_match FROM (
             SELECT sa.doc_id AS a_id, sb.doc_id AS b_id,
               CAST(count(*) AS DOUBLE) /
                 (any_value(ca.n_sh) + any_value(cb.n_sh) - count(*)) AS j
             FROM sh sa JOIN b ON b.doc_id = sa.doc_id
             JOIN sh sb ON sb.shingle = sa.shingle
             JOIN h ON h.doc_id = sb.doc_id
             JOIN cnt ca ON ca.doc_id = sa.doc_id
             JOIN cnt cb ON cb.doc_id = sb.doc_id
             GROUP BY sa.doc_id, sb.doc_id) WHERE j >= 0.6
           GROUP BY a_id)
         SELECT b.doc_id,
           CASE WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
                WHEN nr.near_match IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS verdict,
           coalesce(ex.exact_match, nr.near_match) AS match_id
         FROM b LEFT JOIN ex ON ex.doc_id = b.doc_id
         LEFT JOIN nr ON nr.doc_id = b.doc_id
         ORDER BY b.doc_id""",
    "qd28_token_budget" ->
      s"""WITH $oracleQualityMicro,
         c AS (
           SELECT doc_id, q_u AS quality_u, ntok AS n_tok,
             CAST(coalesce(sum(ntok) OVER (ORDER BY q_u DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
           FROM qm)
         SELECT doc_id, quality_u, n_tok, cum_before
         FROM c WHERE cum_before < 8000 ORDER BY doc_id""",
    "qd32_leakage_split_lsh" ->
      s"""WITH RECURSIVE $oracleShingles,
         pairs AS (
           SELECT a_id, b_id FROM (
             SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS DOUBLE) /
                 (any_value(ca.n_sh) + any_value(cb.n_sh) - count(*)) AS jaccard
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             JOIN cnt ca ON ca.doc_id = a.doc_id
             JOIN cnt cb ON cb.doc_id = b.doc_id
             GROUP BY a.doc_id, b.doc_id)
           WHERE jaccard >= 0.6),
         edges AS (SELECT a_id AS a, b_id AS b FROM pairs
                   UNION ALL SELECT b_id AS a, a_id AS b FROM pairs),
         reach(id, r) AS (
           SELECT a, b FROM edges
           UNION
           SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
         comp AS (
           SELECT d.doc_id, least(d.doc_id, coalesce(min(r.r), d.doc_id)) AS component
           FROM documents d LEFT JOIN reach r ON r.id = d.doc_id
           GROUP BY d.doc_id),
         h AS (SELECT doc_id, component,
           CAST('0x' || substr(md5('sp7-' || CAST(component AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS hv
           FROM comp)
         SELECT doc_id, component,
           CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val' ELSE 'test' END AS split
         FROM h ORDER BY doc_id""",
    "qd29_leakage_split" ->
      s"""WITH RECURSIVE $oracleShingles,
         pairs AS (
           SELECT a_id, b_id FROM (
             SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               CAST(count(*) AS DOUBLE) /
                 (any_value(ca.n_sh) + any_value(cb.n_sh) - count(*)) AS jaccard
             FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             JOIN cnt ca ON ca.doc_id = a.doc_id
             JOIN cnt cb ON cb.doc_id = b.doc_id
             GROUP BY a.doc_id, b.doc_id)
           WHERE jaccard >= 0.3),
         edges AS (SELECT a_id AS a, b_id AS b FROM pairs
                   UNION ALL SELECT b_id AS a, a_id AS b FROM pairs),
         reach(id, r) AS (
           SELECT a, b FROM edges
           UNION
           SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r),
         comp AS (
           SELECT d.doc_id, least(d.doc_id, coalesce(min(r.r), d.doc_id)) AS component
           FROM documents d LEFT JOIN reach r ON r.id = d.doc_id
           GROUP BY d.doc_id),
         h AS (SELECT doc_id, component,
           CAST('0x' || substr(md5('sp6-' || CAST(component AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS hv
           FROM comp)
         SELECT doc_id, component,
           CASE WHEN hv < 80 THEN 'train' WHEN hv < 90 THEN 'val' ELSE 'test' END AS split
         FROM h ORDER BY doc_id""",
    "qd27_span_scrub" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS w
           FROM documents),
         spans AS (
           SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS span
           FROM toks, (SELECT unnest(range(1, 512)) AS i)
           WHERE i <= len(w) - 7),
         hot AS (SELECT span FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
         hotpos AS (SELECT s.doc_id, s.pos FROM spans s JOIN hot USING (span)),
         tok AS (
           SELECT t.doc_id, i - 1 AS p, w[i] AS tk
           FROM toks t, (SELECT unnest(range(1, 512)) AS i)
           WHERE i <= len(w)),
         kept AS (
           SELECT tok.doc_id, p, tk FROM tok
           WHERE NOT EXISTS (SELECT 1 FROM hotpos h
                             WHERE h.doc_id = tok.doc_id AND h.pos BETWEEN p - 7 AND p))
         SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tok_before,
           CAST(count(k.p) AS BIGINT) AS n_tok_after,
           md5(coalesce(string_agg(k.tk, ' ' ORDER BY k.p), '')) AS text_md5
         FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
         GROUP BY t.doc_id, len(t.w)
         ORDER BY t.doc_id""",
    "qd33_span_dedup" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(coalesce(text, '')), '\s+') AS w
           FROM documents),
         spans AS (
           SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS span
           FROM toks, (SELECT unnest(range(1, 512)) AS i)
           WHERE i <= len(w) - 7),
         hot AS (SELECT span, min(doc_id) AS keeper FROM spans
                 GROUP BY span HAVING count(DISTINCT doc_id) >= 2),
         hotpos AS (SELECT s.doc_id, s.pos FROM spans s JOIN hot USING (span)
                    WHERE s.doc_id <> hot.keeper),
         tok AS (
           SELECT t.doc_id, i - 1 AS p, w[i] AS tk
           FROM toks t, (SELECT unnest(range(1, 512)) AS i)
           WHERE i <= len(w)),
         kept AS (
           SELECT tok.doc_id, p, tk FROM tok
           WHERE NOT EXISTS (SELECT 1 FROM hotpos h
                             WHERE h.doc_id = tok.doc_id AND h.pos BETWEEN p - 7 AND p))
         SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tok_before,
           CAST(count(k.p) AS BIGINT) AS n_tok_after,
           md5(coalesce(string_agg(k.tk, ' ' ORDER BY k.p), '')) AS text_md5
         FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
         GROUP BY t.doc_id, len(t.w)
         ORDER BY t.doc_id""",
    "qd34_pii_classes" ->
      """WITH t AS (SELECT doc_id,
           text || ' Contact user' || CAST(doc_id AS VARCHAR)
             || '@mail.example.com, call (555) 867-5309 or 555-014-'
             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
             || ', ssn 123-45-6789, host 10.' || CAST(doc_id % 200 AS VARCHAR)
             || '.0.7 end' AS txt
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(txt, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(txt, '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(txt, '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
           CAST(len(regexp_extract_all(txt, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ip,
           md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(txt,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
             '\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}', '[REDACTED]', 'g'),
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[REDACTED]', 'g'),
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[REDACTED]', 'g')) AS redacted_md5
         FROM t ORDER BY doc_id""",
    "qd35_normalize_text" ->
      """SELECT doc_id, md5(norm) AS norm_md5,
           CAST(length(norm) AS BIGINT) AS n_chars_norm
         FROM (SELECT doc_id,
           lower(trim(regexp_replace(regexp_replace(
             nfc_normalize(text || '  Cafe' || chr(769) || ' NAI' || chr(776)
               || 'VE' || chr(9) || 'test  '),
             '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g'))) AS norm
           FROM documents)
         ORDER BY doc_id""",
    "qd36_corpus_mix" ->
      """WITH m AS (
           SELECT doc_id, source,
             CASE source WHEN 'src0' THEN 34000 WHEN 'src1' THEN 2500
               WHEN 'src2' THEN 0 WHEN 'src3' THEN 15000 ELSE 10000 END AS w_e4,
             CAST('0x' || substr(md5('mx1-' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS h
           FROM documents)
         SELECT doc_id, source, CAST(c AS INTEGER) AS copy
         FROM (SELECT doc_id, source,
             unnest(range(0, w_e4 // 10000 + CASE WHEN h < w_e4 % 10000 THEN 1 ELSE 0 END)) AS c
           FROM m)
         ORDER BY doc_id, copy""",
    "qd24_tfidf_terms" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
         dfr AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM toks GROUP BY term),
         n AS (SELECT count(DISTINCT doc_id) AS nd FROM toks)
         SELECT doc_id, term, tf, score, rank FROM (
           SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(CAST(nd AS DOUBLE) / dfreq), 4) AS score,
             CAST(row_number() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST(nd AS DOUBLE) / dfreq) DESC, tf.term) AS INTEGER) AS rank
           FROM tf JOIN dfr ON dfr.term = tf.term, n)
         WHERE rank <= 3 ORDER BY doc_id, rank""",
    "qd22_corpus_shuffle" ->
      """WITH h AS (SELECT doc_id,
           CAST('0x' || substr(md5('ep0-' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv
         FROM documents)
         SELECT doc_id, CAST(hv % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS INTEGER) AS pos
         FROM h ORDER BY doc_id""",
    "qd23_unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok FROM documents),
         cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         tot AS (SELECT sum(c) AS total FROM cnt)
         SELECT doc_id, count(*) AS n_tok,
           round(avg(-ln(CAST(c AS DOUBLE) / total)), 4) AS avg_neg_logp
         FROM toks JOIN cnt USING (tok), tot
         GROUP BY doc_id ORDER BY doc_id""",
    "qd21_quality_sample" ->
      s"""WITH $oracleQualityMicro
         SELECT doc_id, lang, q_u FROM (
           SELECT doc_id, lang, q_u,
             CAST('0x' || substr(md5('s9-' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000 AS h
           FROM qm)
         WHERE h * 1000000 < 1000 * 1000000 + 9000 * q_u
         ORDER BY doc_id""",
    "qd19_bpe_tokens" ->
      """WITH t AS (SELECT lang, text || '. the-end v2.0!' AS text FROM documents),
         c AS (SELECT lang,
             array_length(regexp_split_to_array(trim(text), '\s+')) AS n_ws,
             len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS n_bpe
           FROM t)
         SELECT lang, count(*) AS docs,
           CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens
         FROM c GROUP BY lang ORDER BY lang""",
    "qd08_simhash" -> simhashOracle,
    "qd09_fingerprints" ->
      """SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(regexp_split_to_array(trim(text), '\s+'),
               t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) % 1000000007)),
           (acc, x) -> (acc * 31 + x) % 1000000007) AS rolling_hash,
         md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' ')) AS content_fp
         FROM documents ORDER BY doc_id""",
    "qd01_token_stats" ->
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(array_length(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
         CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         CAST(max(array_length(regexp_split_to_array(trim(text), '\s+'))) AS INTEGER) AS max_tokens
         FROM documents GROUP BY lang ORDER BY lang""",
    "qd02_exact_dedup" ->
      """SELECT md5(array_to_string(l[1:8], ' ')) AS dup_key,
         count(*) AS n_members, min(doc_id) AS keep_id
         FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS l FROM documents)
         GROUP BY 1 HAVING count(*) > 1 ORDER BY dup_key""",
    "qd03_dedup_summary" ->
      """SELECT count(*) AS n_docs,
         count(DISTINCT md5(text)) AS n_distinct_texts,
         count(DISTINCT md5(array_to_string(list_sort(list_distinct(regexp_split_to_array(trim(text), '\s+'))), ' '))) AS n_distinct_bags,
         count(DISTINCT md5(array_to_string(regexp_split_to_array(trim(text), '\s+')[1:8], ' '))) AS n_distinct_prefix8
         FROM documents""",
    "qd04_lang_id" ->
      """SELECT lang, pred_lang, count(*) AS n FROM (
           SELECT lang,
             CASE
               WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_de AND h_en >= h_zh AND h_en > 0 THEN 'en'
               WHEN h_es >= h_fr AND h_es >= h_de AND h_es >= h_zh AND h_es > 0 THEN 'es'
               WHEN h_fr >= h_de AND h_fr >= h_zh AND h_fr > 0 THEN 'fr'
               WHEN h_de >= h_zh AND h_de > 0 THEN 'de'
               WHEN h_zh > 0 THEN 'zh'
               ELSE 'und' END AS pred_lang
           FROM (SELECT lang,
             len(list_filter(w, t -> t IN ('the','a','of','and','is','in','to'))) AS h_en,
             len(list_filter(w, t -> t IN ('el','la','los','las','y','es'))) AS h_es,
             len(list_filter(w, t -> t IN ('le','les','et','est','des','une'))) AS h_fr,
             len(list_filter(w, t -> t IN ('der','die','das','und','ist','ein'))) AS h_de,
             len(list_filter(w, t -> t IN ('的','是','了','在'))) AS h_zh
             FROM (SELECT lang, regexp_split_to_array(trim(text), '\s+') AS w FROM documents)))
         GROUP BY lang, pred_lang ORDER BY lang, pred_lang""",
    "qd05_quality_score" ->
      s"""WITH $oracleQualityMicro
         SELECT CAST(q_u // 100000 AS INTEGER) AS bucket, count(*) AS n,
           CAST(sum(q_u) AS BIGINT) AS sum_q_u
         FROM qm GROUP BY bucket ORDER BY bucket""",
    "qd10_word_count" ->
      """SELECT token, count(*) AS n FROM (
           SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 20""",
    "qd11_collect_set" ->
      """SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources,
         count(DISTINCT source) AS n_sources
         FROM documents GROUP BY lang ORDER BY lang""",
    "qd06_jaccard_pairs" ->
      s"""WITH $oracleShingles
         SELECT a_id, b_id, shared, $jE4Sql FROM (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared,
             CAST(count(*) AS DOUBLE) /
               (any_value(ca.n_sh) + any_value(cb.n_sh) - count(*)) AS jaccard
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           JOIN cnt ca ON ca.doc_id = a.doc_id
           JOIN cnt cb ON cb.doc_id = b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         WHERE jaccard >= 0.3 ORDER BY a_id, b_id""",
    "qd12_jaccard_cooled" ->
      s"""WITH $oracleShingles,
         cool AS (SELECT * FROM sh WHERE shingle IN (
           SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 3)),
         cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           FROM cool a JOIN cool b ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, shared, $jE4Sql FROM (
           SELECT c.a_id, c.b_id, count(*) AS shared,
             CAST(count(*) AS DOUBLE) /
               (any_value(ca.n_sh) + any_value(cb.n_sh) - count(*)) AS jaccard
           FROM cand c
           JOIN sh a ON a.doc_id = c.a_id
           JOIN sh b ON b.doc_id = c.b_id AND b.shingle = a.shingle
           JOIN cnt ca ON ca.doc_id = c.a_id
           JOIN cnt cb ON cb.doc_id = c.b_id
           GROUP BY c.a_id, c.b_id)
         WHERE jaccard >= 0.3 ORDER BY a_id, b_id""",
    "qd07_minhash_lsh" ->
      s"""WITH $oracleShingles
         SELECT a_id, b_id, shared, $jE4Sql FROM (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared,
             CAST(count(*) AS DOUBLE) /
               (any_value(ca.n_sh) + any_value(cb.n_sh) - count(*)) AS jaccard
           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           JOIN cnt ca ON ca.doc_id = a.doc_id
           JOIN cnt cb ON cb.doc_id = b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         WHERE jaccard >= 0.6 ORDER BY a_id, b_id"""
  )
}
