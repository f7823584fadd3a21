package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup}
import graft.runtime.Tables

/** The composed training-data pipeline: every curation operator chained
  * in the order a pretraining corpus build actually runs them —
  *
  *   exact dedup → near-dup drop (MinHash+LSH) → benchmark
  *   decontamination → PII redaction → quality/language/repetition
  *   filters →
  *   domain rebalancing → sequence packing → sharded write
  *
  * Each stage is the operator verified by its own oracle/spec; this main
  * (and CurationPipelineSpec) verify they COMPOSE — one lazy plan chain
  * per stage, no driver-side row handling, shards written partitioned so
  * a trainer reads `shard=K` directories independently.
  *
  * Usage: runMain graft.tools.CurationPipeline [sfDir] [outDir]
  */
object CurationPipeline {

  final case class StageCounts(stages: Seq[(String, Long)]) {
    override def toString: String =
      stages.map { case (s, n) => s"$s=$n" }.mkString(", ")
  }

  /** Run the full chain; returns per-stage surviving-row counts. The
    * benchmark slice (doc_id % 20 == 0) stands in for an external eval
    * suite and is excluded from the corpus itself.
    *
    * `chunkSize > 0` enables the chunking stage between rebalancing and
    * packing: documents are split into `chunkSize`-token chunks with
    * `chunkOverlap` shared tokens, so no packed sequence ever carries a
    * document longer than the trainer's context. Chunk ids are
    * `doc_id·2²⁰ + chunk_idx` — order-preserving, so packing still
    * concatenates a document's chunks adjacently and in order (requires
    * chunk counts < 2²⁰, i.e. docs under ~10⁹ tokens at chunkSize 1k).
    *
    * `scrubSpanWidth > 0` enables the repeated-span scrub between
    * redaction and the quality gate (so quality/repetition stats score
    * the text the trainer will actually see); `spanDedupWidth > 0` adds
    * the canonical-copy span DEDUP after it (syndicated content kept
    * once, [[graft.operators.Curation.dedupRepeatedSpans]]);
    * `minDeflateRatio > 0` adds the byte-level compression-ratio gate
    * to stage 5 (`deflate_ratio`, catches sub-token repetition the
    * word-level filters miss); `tokenBudget > 0` keeps
    * only the best documents (quality DESC) until the budget is covered;
    * a non-empty `splits` assigns every near-dup CLUSTER (the stage-2
    * pair list, so split hygiene uses the same similarity evidence that
    * drove dedup) to one split and PACKS EACH SPLIT SEPARATELY — a
    * packed sequence never mixes splits — writing
    * `split=<name>/shard=<k>` directories.
    *
    * `semanticPairs` (doc_id-keyed `a_id`/`b_id` rows, e.g. the
    * embedding-cosine pair tier behind [[graft.operators.Similarity
    * .semanticDedup]]) widens the SPLIT pair list beyond token evidence:
    * a paraphrase or translation shares no shingles, so the stage-2
    * MinHash pairs cannot see it and a per-token-cluster split would put
    * one side in train and the other in test — the leak the split stage
    * exists to prevent. The semantic evidence is deliberately NOT fed to
    * the dedup drop (whether paraphrases are duplicates is corpus
    * policy; that they must not straddle splits is not).
    *
    * `normalize = true` prepends canonical text normalization
    * ([[TextFunctions.normalizeText]]: NFC + case/control/space folding)
    * so NFC/NFD and case variants of the same rendered text unify before
    * any dedup key is computed.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      budget: Int = 512, nShards: Int = 8,
      chunkSize: Int = 0, chunkOverlap: Int = 0,
      scrubSpanWidth: Int = 0, scrubMinDf: Int = 3,
      spanDedupWidth: Int = 0, spanDedupMinDf: Int = 2,
      minDeflateRatio: Double = 0.0,
      tokenBudget: Long = 0L,
      splits: Seq[(String, Int)] = Nil, splitSeed: String = "split-v1",
      semanticPairs: Option[DataFrame] = None,
      normalize: Boolean = false): StageCounts = {
    val all = Tables.load(spark, sfDir, "documents")
    // the benchmark side must be normalized with the SAME fold as the
    // corpus: decontamination matches shingle STRINGS, so a benchmark
    // passage quoted in NFD or different case would otherwise slip past
    // the scrub — the exact leak the stage exists to prevent
    val bench = {
      val b = all.filter(F.col("doc_id") % 20 === 0)
      if (normalize) b.withColumn("text", TextFunctions.normalizeText(F.col("text")))
      else b
    }
    // 0.5 (opt-in): canonical normalization FIRST — NFC composition +
    // case/control/space folding ([[TextFunctions.normalizeText]]), so
    // every downstream key (exact fingerprints, shingles, span hashes)
    // sees ONE spelling of each rendered text. Without it, NFC and NFD
    // encodings of the same document count as distinct (web scrapes mix
    // both), and the dedup stages silently under-collapse. Narrow —
    // folds into the scan projection, no extra pass.
    val corpus = {
      val c = all.filter(F.col("doc_id") % 20 =!= 0)
      if (normalize)
        c.withColumn("text", TextFunctions.normalizeText(F.col("text")))
      else c
    }.cache()

    // 1. exact dedup on the content fingerprint, min-id representative
    val fp = TextFunctions.contentFingerprint(F.col("text"))
    val losers = corpus
      .select(F.col("doc_id"), fp.as("dup_key"))
      .join(
        Dedup.exactDuplicateGroups(corpus, "doc_id", fp).select("dup_key", "keep_id"),
        "dup_key")
      .filter(F.col("doc_id") =!= F.col("keep_id"))
      .select("doc_id")
    val deduped = corpus.join(losers, Seq("doc_id"), "left_anti")

    // 2. near-dup drop: verified pairs → connected components → keep the
    // min-id representative of each cluster. Pair-wise dropping (drop
    // every b_id) mishandles star/chain clusters — e.g. pairs (5,9) and
    // (2,9) would keep both 5 and 2 although they sit in one cluster;
    // the transitive closure keeps exactly one doc per cluster.
    // cached: consumed by the component drop here AND by the split
    // stage's pair list — uncached, the signature/banding/verify chain
    // would run twice
    val nearPairs = Dedup
      .minhashNearDupPairs(deduped, "doc_id", "text", n = 3, minJ = 0.6)
      .cache()
    val nearLosers = Dedup.connectedComponents(nearPairs, "a_id", "b_id")
      .filter(F.col("id") =!= F.col("comp"))
      .select(F.col("id").as("doc_id"))
    // cached: every downstream stage AND every per-stage diagnostic
    // count replans from here; uncached, each of the ~7 stage counts
    // re-executed the dedup prefix (shingling, MinHash, components) —
    // measured as the bulk of the composed build's wall time. At 100 TB
    // this cache is the staging write between dedup and curation.
    val nearDeduped = deduped.join(nearLosers, Seq("doc_id"), "left_anti")
      .cache()

    // 3. benchmark decontamination (4-gram overlap scrub)
    val clean = Curation.dropContaminated(nearDeduped, bench, "doc_id", "text", 4)

    // 4. PII redaction — downstream stages consume the redacted text
    val redacted = Curation.redact(clean, "text")
      .drop("text").withColumnRenamed("redacted", "text")

    // 4.5 (opt-in): repeated-span scrub — corpus-level boilerplate
    // (license headers, templated footers) deleted from every carrier
    // BEFORE quality scoring, so the gates judge the surviving text
    val scrubbed =
      if (scrubSpanWidth <= 0) redacted
      else Curation.scrubRepeatedSpans(redacted, "doc_id", "text",
          scrubSpanWidth, scrubMinDf)
        .drop("n_tok_before", "n_tok_after")

    // 4.6 (opt-in): cross-doc span DEDUP — syndicated content (quotes,
    // wire paragraphs) kept once in its min-id carrier, scrubbed from
    // the rest; runs AFTER the scrub so boilerplate is already gone and
    // what remains repeated really is content
    val spanDeduped =
      if (spanDedupWidth <= 0) scrubbed
      else Curation.dedupRepeatedSpans(scrubbed, "doc_id", "text",
          spanDedupWidth, spanDedupMinDf)
        .drop("n_tok_before", "n_tok_after")

    // 5. quality + language gate, then the Gopher repetition gate
    // (phrase-looped / boilerplate docs survive pure quality scores);
    // minDeflateRatio > 0 adds the byte-level compression gate — short
    // docs pass trivially (overhead-dominated ratios exceed any sane
    // threshold), so no separate length floor is needed here
    val scored = spanDeduped.filter(
      TextFunctions.qualityScore(F.col("text")) >= 0.3 &&
        TextFunctions.langId(F.col("text")) =!= "und" &&
        (if (minDeflateRatio > 0)
          TextFunctions.deflateRatio(F.col("text")) >= minDeflateRatio
         else F.lit(true)))
    // cached: the repetition join's gram tables are the second-heaviest
    // kernel; balanced/budgeted counts and the pack input all replan
    // through it
    val filtered = scored.join(
      Curation.repetitionStats(scored, "doc_id", "text")
        .filter(F.col("keep") === 1).select("doc_id"),
      Seq("doc_id"), "left_semi")
      .cache()

    // 6. domain rebalancing (deterministic, reproducible across runs)
    val balanced = Curation.downsampleByDomain(filtered, "doc_id", "lang",
      rates = Map("en" -> 100, "es" -> 80, "fr" -> 80, "de" -> 60),
      defaultRate = 40, seed = "curation-v1")

    // 6.6 (opt-in): token-budget selection — the best documents (by the
    // same quality score the gate used) until the budget is covered
    val budgeted =
      if (tokenBudget <= 0) balanced
      else balanced.join(
        Curation.selectByTokenBudget(balanced, "doc_id",
            TextFunctions.qualityScore(F.col("text")),
            TextFunctions.tokenCount(F.col("text")), tokenBudget)
          .select("doc_id"),
        Seq("doc_id"), "left_semi")

    // 6.7 (opt-in): leakage-safe split assignment on DOCUMENTS (before
    // chunking, so all of a document's chunks inherit one split) using
    // the stage-2 near-dup pairs — pairs referencing dropped docs still
    // merge their surviving neighbors' clusters, which is the safe
    // direction (a dropped bridge doc forces its neighbors together)
    val splitPairs = semanticPairs
      .map(sp => nearPairs.select("a_id", "b_id")
        .unionByName(sp.select("a_id", "b_id")))
      .getOrElse(nearPairs)
    val withSplit =
      if (splits.isEmpty) budgeted
      else Curation.leakageSafeSplit(budgeted, "doc_id", splitPairs, splits, splitSeed)
        .drop("component")

    // 6.5 (opt-in): split long documents to the context budget — chunk
    // rows inherit their document's metadata columns and an
    // order-preserving synthetic id, so the packing stage below still
    // lays a document's pieces out adjacently
    // the pre-pack relation is CACHED: the packing stage consumes it
    // once per split plus twice for stage counts, and each consumer
    // would otherwise replan (and recompile — measured minutes of
    // codegen) and recompute the full upstream chain of dedup + CC +
    // scrub + gates. At 100 TB this is the staging write between
    // curation and packing; here the in-memory form of the same thing.
    val chunked = (
      if (chunkSize <= 0) withSplit
      else Curation.chunkDocuments(withSplit, "doc_id", "text", chunkSize, chunkOverlap)
        .join(withSplit.drop("text"), "doc_id")
        // the id-space contract is enforced, not assumed: a document
        // overflowing 2^20 chunks would alias the NEXT document's id
        // range and silently corrupt pack adjacency
        .withColumn("doc_id",
          F.when(F.col("chunk_idx") >= (1L << 20), F.raise_error(F.lit(
            "chunking produced >= 2^20 chunks for one document; raise chunkSize")))
            .otherwise(F.col("doc_id") * (1L << 20) + F.col("chunk_idx")))
        .drop("chunk_idx", "n_tokens")
        .withColumnRenamed("chunk_text", "text")
    ).cache()

    // 7. pack into token-budget sequences, shard for the trainer.
    // Chunk ids live in the doc_id·2^20 space, so the packing bucket
    // width scales by the same factor — otherwise floor(id / 2^20)
    // degenerates to one bucket PER DOCUMENT and the two-level prefix
    // sum collapses into a corpus-sized single-partition window
    val packBucket = if (chunkSize > 0) (1L << 20) * (1L << 20) else 1L << 20
    def pack(df: DataFrame): DataFrame = Curation.packSequences(
        df, "doc_id", TextFunctions.tokenCount(F.col("text")), budget,
        bucketSize = packBucket)
      .join(df, "doc_id")
      .withColumn("shard", F.pmod(F.col("seq_id"), F.lit(nShards)))
    if (splits.isEmpty)
      pack(chunked).write.mode("overwrite").partitionBy("shard").parquet(outDir)
    else
      // each split packs INDEPENDENTLY (its own offsets and seq ids), so
      // no packed sequence can straddle train/val/test; one lazy union,
      // one write
      splits.map { case (name, _) => pack(chunked.filter(F.col("split") === name)) }
        .reduce(_ unionByName _)
        .write.mode("overwrite").partitionBy("split", "shard").parquet(outDir)

    val counts = StageCounts(Seq(
      "corpus" -> corpus.count(),
      "exact_dedup" -> deduped.count(),
      "near_dedup" -> nearDeduped.count(),
      "decontaminated" -> clean.count(),
      "quality_lang" -> scored.count(),
      // span stages rewrite text rather than dropping rows, so their
      // row counts equal the prior stage's — n_tok deltas are the
      // signal and CurationSpec owns them; only the gate stages report
      "repetition" -> filtered.count(),
      "balanced" -> balanced.count()) ++
      (if (tokenBudget > 0) Seq("budgeted" -> budgeted.count()) else Nil) ++
      (if (chunkSize > 0) Seq("chunked" -> chunked.count()) else Nil) :+
      // a fully-filtered corpus writes no partition dirs, and a
      // schema-less read of the empty root throws — that's an empty
      // corpus, not a pipeline failure. ONLY that case maps to 0: a
      // transient FS/permission error must still fail the run, not
      // report a silent empty corpus
      ("packed" -> (try spark.read.parquet(outDir).count() catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => 0L
      })))
    corpus.unpersist()
    nearPairs.unpersist()
    nearDeduped.unpersist()
    filtered.unpersist()
    chunked.unpersist()
    counts
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft-curated")
    val spark = graft.runtime.GraftSession.get("curation-pipeline")
    spark.sparkContext.setLogLevel("WARN")
    println(s"[curation] ${run(spark, sfDir, outDir)}")
    spark.stop()
  }
}
