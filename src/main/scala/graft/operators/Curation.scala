package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{functions => F}

import graft.functions.TextFunctions

/** Training-data curation operators: benchmark decontamination, PII /
  * pattern redaction, token-budget sequence packing, and deterministic
  * per-domain downsampling.
  *
  * These are the corpus-preparation steps between "deduplicated documents"
  * and "training shards" (the reference stops at the analytics layer; this
  * is the forward extension a 100 TB pretraining pipeline needs).
  *
  * Scale design:
  *   - [[decontaminate]] never shuffles the training corpus: the benchmark
  *     side (eval suites are MBs, the corpus is TBs) is reduced to its
  *     distinct shingle relation and broadcast, so contamination detection
  *     is a map-side hash join + one aggregation keyed by doc;
  *   - [[redact]] and [[downsampleByDomain]] are pure narrow Column
  *     transforms (no shuffle at all);
  *   - [[packSequences]] computes a GLOBAL running token offset without a
  *     global single-partition window: a two-level scan (within-bucket
  *     cumulative sums in parallel + a broadcast prefix over the tiny
  *     per-bucket totals) — the classic distributed prefix-sum shape.
  */
object Curation {

  /** Benchmark decontamination: flag training documents that share at
    * least one word `n`-gram with any benchmark document, with overlap
    * evidence (how many distinct shingles, how many benchmark docs).
    *
    * Emitted columns: (idCol, n_shared_shingles, n_bench_docs).
    * Docs with zero overlap are absent (join, not left join) — the common
    * downstream use is an anti-join to drop contaminated docs.
    *
    * The benchmark shingle relation is broadcast: at production scale the
    * eval suites are tiny next to the corpus, so the corpus-side scan
    * stays shuffle-free until the per-doc aggregation (keyed by idCol,
    * near-uniform).
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val tSh = Dedup.shingleTable(train, idCol, textCol, n)
    val bSh = Dedup.shingleTable(bench, idCol, textCol, n)
      .withColumnRenamed(idCol, "__bench_id")
    tSh.join(F.broadcast(bSh), "shingle")
      .groupBy(idCol)
      .agg(
        F.countDistinct(F.col("shingle")).as("n_shared_shingles"),
        F.countDistinct(F.col("__bench_id")).as("n_bench_docs"))
  }

  /** Graded contamination: every training document with its benchmark
    * n-gram overlap FRACTION — where [[decontaminate]] answers "which
    * docs touch the benchmark at all" (and is the right gate), this
    * answers "how much", the signal a pipeline needs to choose a
    * threshold (a 13-gram match on 0.4% of a long document is citation;
    * 40% is a leaked eval row). Emits (idCol, n_shingles, n_shared,
    * overlap_frac) for every doc that HAS shingles (docs shorter than
    * `n` carry none and are omitted, same contract as [[decontaminate]]).
    *
    * Same scale shape as [[decontaminate]]: benchmark shingles broadcast
    * distinct, corpus side shuffle-free until the per-doc aggregations.
    */
  def contaminationScore(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val tSh = Dedup.shingleTable(train, idCol, textCol, n)
    val bSh = Dedup.shingleTable(bench, idCol, textCol, n)
      .select("shingle").distinct()
    val totals = tSh.groupBy(idCol).agg(F.count(F.lit(1)).as("n_shingles"))
    val shared = tSh.join(F.broadcast(bSh), "shingle")
      .groupBy(idCol).agg(F.count(F.lit(1)).as("n_shared"))
    totals.join(shared, Seq(idCol), "left")
      .withColumn("n_shared", F.coalesce(F.col("n_shared"), F.lit(0L)))
      // raw exact-integer division — engine-portable (see Dedup.jaccardPairs)
      .withColumn("overlap_frac",
        F.col("n_shared") / F.col("n_shingles"))
  }

  /** The end-to-end scrub: training docs with every contaminated doc
    * removed (left-anti against [[decontaminate]]'s flag set). The common
    * pretraining-pipeline call — flag for audit, anti-join for the shard.
    */
  def dropContaminated(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame =
    train.join(
      decontaminate(train, bench, idCol, textCol, n).select(idCol),
      Seq(idCol), "left_anti")

  /** Standard PII patterns (email, US phone, SSN, IPv4). Kept to syntax
    * portable between Java regex and RE2 (no lookaround), so the same
    * pattern string runs in Spark, DuckDB, and most scrubbing tools.
    */
  val piiPatterns: Seq[String] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", // email
    "\\(?[0-9]{3}\\)?[-. ][0-9]{3}[-. ][0-9]{4}",      // US phone
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b",                // SSN
    "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b")            // IPv4

  /** Pattern redaction: replaces every match of every pattern with
    * `replacement` and counts matches (count is per original text, so
    * overlapping patterns double-count — callers wanting exactness pass
    * disjoint patterns). Adds `redacted` and `n_redacted` columns.
    * Pure narrow Column transform — stays in whole-stage codegen.
    */
  def redact(df: DataFrame, textCol: String,
      patterns: Seq[String] = piiPatterns,
      replacement: String = "[REDACTED]"): DataFrame = {
    val redacted = patterns.foldLeft(F.col(textCol)) { (c, p) =>
      F.regexp_replace(c, p, replacement)
    }
    val count = patterns
      .map(p => F.regexp_count(F.col(textCol), F.lit(p)))
      .reduce(_ + _)
    df.withColumn("redacted", redacted)
      .withColumn("n_redacted", count.cast("long"))
  }

  /** Token-budget sequence packing (chunked concatenation): documents are
    * conceptually concatenated in `idCol` order and cut into
    * `budget`-token training sequences; each doc is assigned the sequence
    * its first token lands in. Emits (idCol, n_tok, start_offset, seq_id).
    *
    * The global running offset is computed WITHOUT a single-partition
    * global window: docs are bucketed by `floor(id / bucketSize)`,
    * within-bucket cumulative sums run in parallel (window partitioned by
    * bucket), and the cross-bucket prefix is a window over the per-bucket
    * totals — a relation with corpus_size/bucketSize rows, broadcast back.
    * At 100 TB with bucketSize=2^20 that prefix relation is ~10^5 rows.
    *
    * Requires a numeric `idCol` (the bucketing key); ids need not be dense
    * or contiguous — sparse ids only skew bucket sizes, not correctness.
    */
  def packSequences(df: DataFrame, idCol: String, tokenCount: Column,
      budget: Int, bucketSize: Long = 1L << 20): DataFrame = {
    require(budget > 0 && bucketSize > 0)
    val base = df.select(
      F.col(idCol),
      tokenCount.cast("int").as("n_tok"),
      F.floor(F.col(idCol) / bucketSize).as("__bucket"))
    val wIn = Window.partitionBy("__bucket").orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base.withColumn("__cum", F.sum(F.col("n_tok").cast("long")).over(wIn))
    val totals = base.groupBy("__bucket").agg(F.sum(F.col("n_tok").cast("long")).as("__tot"))
    val wPre = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding, -1)
    val prefix = totals
      .withColumn("__prefix", F.coalesce(F.sum("__tot").over(wPre), F.lit(0L)))
      .select("__bucket", "__prefix")
    cum.join(F.broadcast(prefix), "__bucket")
      .withColumn("start_offset", F.col("__prefix") + F.col("__cum") - F.col("n_tok"))
      .withColumn("seq_id", F.floor(F.col("start_offset") / budget.toDouble))
      .select(idCol, "n_tok", "start_offset", "seq_id")
  }

  /** Fixed token-budget document chunking with overlap — the complement
    * of [[packSequences]]: packing concatenates SHORT docs up to a
    * budget, chunking splits LONG docs down to one. Each document yields
    * `1 + ceil(max(0, n − chunkSize) / (chunkSize − overlap))` chunks;
    * chunk i covers tokens `[i·stride, i·stride + chunkSize)` (whitespace
    * tokens, [[TextFunctions.tokens]] semantics), so consecutive chunks
    * share `overlap` tokens and no token is dropped — the standard
    * long-document treatment for a context-bounded trainer. The last
    * chunk may run short; it is never empty.
    *
    * Emits (idCol, chunk_idx, n_tokens, chunk_text). Purely narrow —
    * tokenize, a per-row sequence explode, and two array kernels; no
    * shuffle, no UDF, codegen throughout. Deterministic, so chunk
    * identity `(idCol, chunk_idx)` is stable across runs and engines.
    */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0, s"chunkSize must be positive, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    // null text behaves like empty text (one empty chunk) — a null would
    // otherwise null-propagate into the explode and silently DROP the
    // document, breaking the lossless contract
    val toks = TextFunctions.tokens(F.coalesce(F.col(textCol), F.lit("")))
    val n = F.size(toks)
    val nChunks = F.when(n <= chunkSize, F.lit(1))
      .otherwise(F.lit(1) +
        F.ceil((n - F.lit(chunkSize)).cast("double") / stride).cast("int"))
    df.select(F.col(idCol), toks.as("__t"), nChunks.as("__nc"))
      .select(F.col(idCol), F.col("__t"),
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).as("chunk_idx"))
      .withColumn("__chunk",
        F.slice(F.col("__t"), F.col("chunk_idx") * stride + 1, F.lit(chunkSize)))
      .select(F.col(idCol), F.col("chunk_idx"),
        F.size(F.col("__chunk")).as("n_tokens"),
        F.concat_ws(" ", F.col("__chunk")).as("chunk_text"))
  }

  /** Repeated-span scrub (exact-substring boilerplate removal): delete
    * every occurrence of any word `n`-gram that appears in at least
    * `minDf` DISTINCT documents, then rebuild each document from its
    * surviving tokens — the span-granular complement of document-level
    * dedup (navigation menus, license headers, and templated footers
    * repeat across millions of otherwise-distinct pages; dropping whole
    * documents over them throws away the unique content, and keeping
    * them trains the model on boilerplate). The same operation underlies
    * C4's three-sentence rule and the exact-substring pass of Lee et
    * al.'s "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), both simplified to a fixed token width.
    *
    * A token survives iff NO flagged span covers it: token `p` (0-based)
    * is deleted when some flagged span starts in `[p-n+1, p]`. Overlapping
    * flagged spans merge naturally under this union-of-intervals rule.
    * Reconstruction is `concat_ws(" ")` over survivors, so inter-token
    * whitespace is normalized (the tokenizer's contract, same as
    * [[chunkDocuments]]); null text behaves like empty text. Emits the
    * input columns with `textCol` rewritten, plus `n_tok_before` /
    * `n_tok_after` so callers can gate on scrub intensity.
    *
    * Scale: one explode sized by total corpus tokens feeding a map-side-
    * combined groupBy on the span string (the inherent global-frequency
    * shuffle — repeated spans collapse in the combiner exactly where
    * they're common), one join back of the flagged subset, and one
    * per-doc collect of flagged START POSITIONS only (ints, not spans;
    * bounded by doc token count). The final covered-token test runs in
    * array land per row — `filter` with an `exists` probe over the doc's
    * own flagged starts — narrow and codegen'd. At 100 TB, swap the
    * span-string group key for `xxhash64(span)` to halve shuffle bytes
    * (kept as the raw string here for bit-exact oracle parity; a 64-bit
    * collision would merely over-flag one span pair).
    */
  def scrubRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int): DataFrame = {
    require(n >= 1, s"span width must be positive, got $n")
    require(minDf >= 2, s"minDf < 2 would flag every span, got $minDf")
    val (base, spans) = tokenizeSpans(df, idCol, textCol, n)
    val hot = spans.groupBy("span")
      .agg(F.countDistinct(F.col(idCol)).as("__df"))
      .filter(F.col("__df") >= minDf)
      .select("span")
    scrubAtStarts(base, spans.join(hot, "span"), idCol, textCol, n)
  }

  /** Repeated-span DEDUP (exact-substring deduplication proper): for
    * every word `n`-gram appearing in at least `minDf` distinct
    * documents, KEEP the occurrence(s) in one canonical document — the
    * smallest `idCol` containing the span — and delete it everywhere
    * else. This is the policy difference from [[scrubRepeatedSpans]]:
    * the scrub treats a repeated span as boilerplate and removes ALL
    * copies (navigation menus, license headers); dedup treats it as
    * CONTENT that happens to be syndicated (a quote, a wire-service
    * paragraph, a copied README section) and preserves exactly one copy
    * for training — the remove-all-but-one exact-substring pass of Lee
    * et al. (arXiv:2107.06499) at fixed token width.
    *
    * Determinism and edge semantics: the keeper is `min(idCol)` per
    * span, so the output is a pure function of the corpus. Within the
    * keeper document a span repeated multiple times keeps every
    * occurrence (intra-doc repetition is [[repetitionStats]] /
    * [[scrubRepeatedSpans]] territory). A token in doc d is deleted iff
    * some flagged span whose keeper is NOT d covers it — so a keeper
    * doc can still lose tokens where an overlapping DIFFERENT span is
    * kept by a smaller doc id; deletion wins over retention on overlap,
    * keeping the rule one `exists` probe per token. Coverage, interval
    * union, whitespace normalization, null handling, and the emitted
    * `n_tok_before`/`n_tok_after` columns are exactly
    * [[scrubRepeatedSpans]]'s (shared tail).
    *
    * Scale: identical shape to [[scrubRepeatedSpans]] — the keeper
    * `min(idCol)` rides the same map-side-combined span aggregate, and
    * the `!= keeper` filter runs on the joined-back flagged subset
    * before the per-doc start-position collect, so non-flagged docs
    * never materialize interval state.
    */
  def dedupRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDf: Int = 2): DataFrame = {
    require(n >= 1, s"span width must be positive, got $n")
    require(minDf >= 2, s"minDf < 2 would flag every span, got $minDf")
    val (base, spans) = tokenizeSpans(df, idCol, textCol, n)
    val hot = spans.groupBy("span")
      .agg(F.countDistinct(F.col(idCol)).as("__df"),
        F.min(F.col(idCol)).as("__keeper"))
      .filter(F.col("__df") >= minDf)
      .select("span", "__keeper")
    val flagged = spans.join(hot, "span")
      .filter(F.col(idCol) =!= F.col("__keeper"))
    scrubAtStarts(base, flagged, idCol, textCol, n)
  }

  /** Shared head of the span family: tokenized base + exploded
    * (id, pos, span) relation for width-`n` word grams. */
  private def tokenizeSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val toks = TextFunctions.tokens(F.coalesce(F.col(textCol), F.lit("")))
    val base = df.withColumn("__toks", toks)
    val spans = base
      .filter(F.size(F.col("__toks")) >= n)
      .select(F.col(idCol),
        F.posexplode(
          F.transform(F.sequence(F.lit(0), F.size(F.col("__toks")) - n),
            i => F.array_join(F.slice(F.col("__toks"), i + F.lit(1), F.lit(n)), " ")))
          .as(Seq("pos", "span")))
    (base, spans)
  }

  /** Shared tail of the span family: given the flagged (id, pos, …)
    * start positions, delete every token covered by a flagged start in
    * `[p-n+1, p]` and rebuild the text (union-of-intervals rule, see
    * [[scrubRepeatedSpans]]). */
  private def scrubAtStarts(base: DataFrame, flagged: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val hotStarts = flagged
      .groupBy(idCol)
      .agg(F.sort_array(F.collect_list(F.col("pos"))).as("__hot"))
    base.join(hotStarts, Seq(idCol), "left")
      .withColumn("__hot",
        F.coalesce(F.col("__hot"), F.array().cast("array<int>")))
      .withColumn("n_tok_before", F.size(F.col("__toks")))
      .withColumn("__kept",
        F.filter(F.col("__toks"), (_, p) =>
          !F.exists(F.col("__hot"), s => s >= p - (n - 1) && s <= p)))
      .withColumn("n_tok_after", F.size(F.col("__kept")))
      .withColumn(textCol, F.concat_ws(" ", F.col("__kept")))
      .drop("__toks", "__hot", "__kept")
  }

  /** Deterministic per-domain downsampling (corpus rebalancing): keep a
    * row iff `portableHash64(seed-id) mod 100 < rate(domain)`, with rates
    * in percent. Unlike `sample()`/`sampleBy()` the decision is a pure
    * function of (seed, id) — reproducible across runs, engines (the
    * md5-derived hash family is engine-portable), cluster sizes, and
    * partitionings, which is what makes ablation corpora comparable.
    * Narrow, shuffle-free, codegen'd.
    */
  def downsampleByDomain(df: DataFrame, idCol: String, domainCol: String,
      rates: Map[String, Int], defaultRate: Int, seed: String): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 100))
    val h = F.pmod(
      TextFunctions.portableHash64(
        F.concat(F.lit(seed + "-"), F.col(idCol).cast("string"))),
      F.lit(100L))
    val rate = rates.foldRight(F.lit(defaultRate): Column) {
      case ((dom, r), els) => F.when(F.col(domainCol) === dom, F.lit(r)).otherwise(els)
    }
    df.filter(h < rate)
  }

  /** Training-mix construction with per-domain EPOCH weights — the
    * upsampling sibling of [[downsampleByDomain]] (that keeps a rate
    * ≤ 1; this replicates). Published pretraining mixes oversample
    * high-value sources (Wikipedia at 3.4 epochs in GPT-3's table,
    * books > 1 epoch in LLaMA's) and undersample bulk web; the operator
    * realizes such a table: a weight `w` emits `floor(w)` full copies of
    * every row plus one more with probability `frac(w)`, decided by the
    * engine-portable (seed, id) hash — E[copies] = w exactly, and the
    * realized corpus is a pure function of (seed, weights), reproducible
    * across runs, engines, cluster sizes, and partitionings. Weights
    * resolve at 1e-4; `w = 0` drops the domain, unlisted domains take
    * `defaultWeight`. Emits every input column plus `copy` (0-based
    * replica index) — downstream shuffles ([[deterministicShuffle]] on
    * (id, copy)) spread the replicas across training shards.
    *
    * Scale: narrow end to end — a CASE ladder, one hash, one
    * `explode(sequence)`; no shuffle, no driver state. Output size is
    * the mix's token budget (Σ w·|domain|), the thing the caller chose.
    * Replicas of one row land in one task; the training-order shuffle
    * that follows disperses them (documented contract, not a defect).
    *
    * `maxEpochs` (default 10) is a fat-finger guard, not a capability
    * limit: the explode fans EVERY row of a domain to ⌈w⌉ copies, so a
    * `w = 100` typo for `w = 1.00` silently builds a 100× corpus — at
    * 100 TB, a cluster-filling write. Published mixes top out around 3–5
    * epochs (GPT-3's Wikipedia row is 3.4); a deliberate heavier mix
    * passes an explicit larger `maxEpochs`, making the blowup a read-out
    * decision at the call site instead of a data-sized surprise.
    */
  def mixByWeights(df: DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Double], defaultWeight: Double, seed: String,
      maxEpochs: Double = 10.0): DataFrame = {
    require(maxEpochs > 0, s"maxEpochs must be positive, got $maxEpochs")
    require((weights.values ++ Seq(defaultWeight)).forall(w => w >= 0 && w <= maxEpochs),
      s"epoch weights must be in [0, $maxEpochs] — a weight fans every row of its " +
        s"domain to that many copies (output size = Σ w·|domain|); raise maxEpochs " +
        s"explicitly if a ${weights.values.foldLeft(defaultWeight)(math.max)}-epoch " +
        "mix is intended")
    def e4(w: Double): Long = math.round(w * 10000)
    val wE4 = weights.foldRight(F.lit(e4(defaultWeight)): Column) {
      case ((dom, w), els) => F.when(F.col(domainCol) === dom, F.lit(e4(w))).otherwise(els)
    }
    val h = F.pmod(
      TextFunctions.portableHash64(
        F.concat(F.lit(seed + "-"), F.col(idCol).cast("string"))),
      F.lit(10000L))
    val copies = TextFunctions.exactDiv(wE4, F.lit(10000L)) +
      F.when(h < wE4 % 10000, F.lit(1L)).otherwise(F.lit(0L))
    df.withColumn("__copies", copies)
      .filter(F.col("__copies") > 0)
      // sequence(0, -1) would be a DESCENDING range, not empty — the
      // filter above guarantees copies >= 1 here
      .withColumn("copy",
        F.explode(F.sequence(F.lit(0), (F.col("__copies") - 1).cast("int"))))
      .drop("__copies")
  }

  /** Quality-ordered token-budget selection: walk the corpus in
    * (`quality` DESC, `idCol` ASC) order and keep documents until the
    * running token total reaches `budget` — "the best N-billion-token
    * subset", the selection step between scoring a corpus and training
    * on it. A document is kept iff the total BEFORE it is under budget,
    * so the boundary-crossing doc is included and the selection never
    * undershoots while the corpus can cover it. Emits (idCol, quality,
    * n_tok, cum_before).
    *
    * The global running sum over an arbitrary sort key needs no
    * single-partition window: `repartitionByRange` on the sort key makes
    * every row of partition i precede every row of partition i+1, so
    * per-partition window sums (keyed by the captured partition id) plus
    * a broadcast prefix over the numPartitions-row per-partition totals
    * reconstruct the exact global cumsum — [[packSequences]]'s two-level
    * scan generalized from a bounded id space to ANY ordering, with the
    * range partitioner supplying the bounded bucketing. The ranged
    * 3-column relation is cached so the cumsum window and the totals
    * aggregate share ONE scan and ONE range shuffle — exchange reuse
    * cannot be relied on here (column pruning specializes each branch's
    * exchange subtree and defeats `ReuseExchange`; measured 2× scans
    * without the cache). At 100 TB swap the cache for a materialized
    * staging write; either way the corpus is ranged once. Partition
    * count follows `spark.sql.shuffle.partitions`, so per-task window
    * state stays ~corpus/P at any scale.
    */
  def selectByTokenBudget(df: DataFrame, idCol: String, quality: Column,
      tokenCount: Column, budget: Long, partitions: Int = 0): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val p = if (partitions > 0) partitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df
      .select(F.col(idCol), quality.as("quality"), tokenCount.cast("long").as("n_tok"))
      .repartitionByRange(p, F.col("quality").desc, F.col(idCol))
      .sortWithinPartitions(F.col("quality").desc, F.col(idCol))
      .withColumn("__part", F.spark_partition_id())
      .cache()
    val wIn = Window.partitionBy("__part")
      .orderBy(F.col("quality").desc, F.col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranged.withColumn("__cum", F.sum("n_tok").over(wIn))
    val wPre = Window.orderBy("__part").rowsBetween(Window.unboundedPreceding, -1)
    val prefix = ranged.groupBy("__part").agg(F.sum("n_tok").as("__tot"))
      .withColumn("__prefix", F.coalesce(F.sum("__tot").over(wPre), F.lit(0L)))
      .select("__part", "__prefix")
    cum.join(F.broadcast(prefix), "__part")
      .withColumn("cum_before", F.col("__prefix") + F.col("__cum") - F.col("n_tok"))
      .filter(F.col("cum_before") < budget)
      .select(idCol, "quality", "n_tok", "cum_before")
  }

  /** Leakage-safe corpus split: assign every near-dup CLUSTER — not
    * every document — to a split, so no near-duplicate pair ever
    * straddles train/validation/test (per-document random splitting
    * leaks: a test doc whose near-twin sits in train is partially
    * memorized, and eval numbers inflate). `pairs` is any near-dup edge
    * list (`a_id`, `b_id` — [[Dedup.jaccardPairs]],
    * [[Dedup.minhashNearDupPairs]], or an embedding-cosine variant);
    * connected components collapse it into clusters, the cluster rep's
    * hash decides the split for all members, and singletons hash their
    * own id (their component). `splits` are (name, percent) in
    * assignment order, summing to 100.
    *
    * Deterministic: the decision is a pure function of (seed, component)
    * through the engine-portable [[TextFunctions.portableHash64]], so
    * the same corpus splits identically across runs, engines, and
    * cluster sizes — and stays STABLE under corpus growth except where
    * new edges merge clusters (the unavoidable case: a merged cluster
    * must move together).
    *
    * Scale: component discovery is [[Dedup.connectedComponents]]'
    * log-round propagation (shuffles sized by the edge list); assignment
    * is one left join of the corpus against the component relation
    * (near-dup clusters only — typically a small fraction of docs) plus
    * a narrow hash ladder.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Int)], seed: String): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 100 &&
      splits.forall(_._2 > 0),
      s"splits must be positive percents summing to 100, got $splits")
    val cc = Dedup.connectedComponents(pairs, "a_id", "b_id")
      .withColumnRenamed("id", idCol)
    val assigned = df.join(cc, Seq(idCol), "left")
      .withColumn("component", F.coalesce(F.col("comp"), F.col(idCol)))
      .drop("comp")
    val h = F.pmod(
      TextFunctions.portableHash64(
        F.concat(F.lit(seed + "-"), F.col("component").cast("string"))),
      F.lit(100L))
    val cuts = splits.map(_._1).zip(splits.scanLeft(0)(_ + _._2).tail)
    val ladder = cuts.init.foldRight(F.lit(cuts.last._1): Column) {
      case ((name, hi), els) => F.when(h < hi, F.lit(name)).otherwise(els)
    }
    assigned.withColumn("split", ladder)
  }

  /** Exact per-domain quality quota: keep the `quota` highest-`quality`
    * rows of each domain, deterministic id tie-break — the EXACT
    * counterpart of the probabilistic [[downsampleByDomain]] /
    * [[qualityWeightedSample]] (those keep a rate, this keeps a count;
    * "the 25 best docs per language" is a quota, not a rate). Selection
    * runs through [[graft.plans.TopKAggregate]], a real aggregate:
    * per-group state is O(quota) and partials combine MAP-SIDE, so each
    * task reduces to ≤ quota rows per domain before the shuffle — a
    * skewed domain never funnels its whole row set through one
    * partition's sort, which is what the row_number-window formulation
    * would do at 100 TB. Emits (domainCol, rank, idCol, quality).
    *
    * `quality` must be a non-null double and `idCol` a long (the
    * aggregate's (DESC double, ASC long) rank contract).
    */
  def domainQuota(df: DataFrame, idCol: String, domainCol: String,
      quality: Column, quota: Int): DataFrame = {
    require(quota > 0, s"quota must be positive, got $quota")
    df.groupBy(domainCol)
      .agg(F.call_function("topk_rows",
        F.struct(quality.as("q"), F.col(idCol)), F.lit(quota)).as("top"))
      .select(F.col(domainCol), F.posexplode(F.col("top")))
      .select(F.col(domainCol),
        (F.col("pos") + 1).cast("int").as("rank"),
        F.col(s"col.$idCol").as(idCol),
        F.col("col.q").as("quality"))
  }

  /** Quality-weighted deterministic sampling (importance resampling): the
    * keep probability interpolates linearly between `floorRate` and
    * `ceilRate` (1e-4 resolution) with the document's integer
    * [[TextFunctions.qualityMicro]], and
    * the decision is a pure function of (seed, id) — the quality-aware
    * sibling of [[downsampleByDomain]], upsampling high-quality documents
    * relative to low-quality ones while keeping ablation corpora
    * reproducible across runs, engines, and partitionings. Narrow,
    * shuffle-free, codegen'd.
    */
  def qualityWeightedSample(df: DataFrame, idCol: String, textCol: String,
      seed: String, floorRate: Double = 0.1, ceilRate: Double = 1.0): DataFrame = {
    require(floorRate >= 0 && ceilRate <= 1 && floorRate <= ceilRate)
    // Rates resolve at 1e-4; the decision is ALL-LONG arithmetic against
    // the integer micro-quality (h/1e4 < f/1e4 + (c-f)/1e4 · q_u/1e6,
    // cleared of denominators), so no document can sit within a double
    // ULP of the keep threshold — the comparison another engine re-derives
    // is bit-identical, not merely close.
    val fE4 = math.round(floorRate * 10000)
    val cE4 = math.round(ceilRate * 10000)
    val qU = TextFunctions.qualityMicro(F.col(textCol))
    val h = F.pmod(
      TextFunctions.portableHash64(
        F.concat(F.lit(seed + "-"), F.col(idCol).cast("string"))),
      F.lit(10000L))
    df.filter(h * F.lit(1000000L) < F.lit(fE4 * 1000000L) + F.lit(cE4 - fE4) * qU)
  }

  /** Deterministic global shuffle for training order: every row gets a
    * shard and a position within it, both pure functions of (seed, id) —
    * sort by the engine-portable hash, shard by its modulus. Data loaders
    * on any engine, cluster size, or partitioning see the identical
    * order; reshuffling between epochs is a seed change, not a data move.
    * The within-shard `row_number` windows run partitioned by shard
    * (parallel), never over the global corpus.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String,
      nShards: Int): DataFrame = {
    require(nShards > 0)
    val h = TextFunctions.portableHash64(
      F.concat(F.lit(seed + "-"), F.col(idCol).cast("string")))
    df.withColumn("__h", h)
      .withColumn("shard", F.pmod(F.col("__h"), F.lit(nShards.toLong)).cast("int"))
      .withColumn("pos", F.row_number().over(
        Window.partitionBy("shard").orderBy(F.col("__h"), F.col(idCol))))
      .drop("__h")
  }

  /** Corpus-relative unigram log-probability score — the cheap stand-in
    * for the KenLM-perplexity filter of CCNet-style pipelines: documents
    * made of corpus-typical tokens score low, documents of rare tokens
    * score high. Two aggregations: global token frequencies (shuffle on
    * the near-uniform token key, map-side combined), then the per-doc
    * mean of -ln(count/total) via a token-keyed join back. The corpus
    * total rides in as a broadcast 1-row cross join (the HWM pattern) —
    * no driver round trip.
    *
    * Emits (idCol, n_tok, avg_neg_logp), avg rounded to 4.
    */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(F.col(idCol),
      F.explode(TextFunctions.tokens(F.col(textCol))).as("tok"))
    val counts = toks.groupBy("tok").agg(F.count(F.lit(1)).as("c"))
    val total = counts.agg(F.sum("c").as("total"))
    toks
      .join(counts, "tok")
      .crossJoin(F.broadcast(total))
      .select(F.col(idCol),
        (-F.log(F.col("c").cast("double") / F.col("total"))).as("neg_logp"))
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_tok"),
        F.round(F.avg("neg_logp"), 4).as("avg_neg_logp"))
  }

  /** Per-document top-k terms by TF-IDF — the document-representation /
    * keyword-tagging primitive. Three aggregations over the token
    * relation (term frequency per doc, document frequency per term,
    * corpus size), one term-keyed join, one per-doc ranking window
    * (partitioned by doc, never corpus-global). The corpus size rides in
    * as a broadcast 1-row cross join; ties rank lexicographically so the
    * answer is engine-deterministic.
    *
    * Emits (idCol, term, tf, score, rank), rank 1..k, score = tf·ln(N/df)
    * rounded to 4.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = df.select(F.col(idCol),
      F.explode(TextFunctions.tokens(F.col(textCol))).as("term"))
    val tf = toks.groupBy(idCol, "term").agg(F.count(F.lit(1)).as("tf"))
    val dfreq = toks.distinct().groupBy("term").agg(F.count(F.lit(1)).as("dfreq"))
    val nDocs = df.agg(F.countDistinct(F.col(idCol)).as("nd"))
    val raw = F.col("tf") * F.log(F.col("nd").cast("double") / F.col("dfreq"))
    tf.join(dfreq, "term")
      .crossJoin(F.broadcast(nDocs))
      .withColumn("score", F.round(raw, 4))
      .withColumn("rank", F.row_number().over(
        Window.partitionBy(idCol).orderBy(raw.desc, F.col("term"))))
      .filter(F.col("rank") <= k)
      .select(F.col(idCol), F.col("term"), F.col("tf"), F.col("score"), F.col("rank"))
  }

  /** Okapi BM25 retrieval: the top-k documents for a literal query-term
    * set — the retrieval primitive behind anchor-document mining and
    * RAG-style training-pair construction ([[tfidfTopTerms]] represents
    * documents; this RANKS them against a query, with BM25's tf
    * saturation and length normalization that raw tf·idf lacks).
    *
    *   score(D,Q) = Σ_{t∈Q} ln(1 + (N−df_t+0.5)/(df_t+0.5))
    *                  · tf_{t,D}·(k1+1) / (tf_{t,D} + k1·(1−b+b·|D|/avgdl))
    *
    * Scale shape: document length is a NARROW per-row expression (no
    * token explode for the length relation); the token explode is
    * pre-filtered to the query terms with an array kernel, so the
    * exploded relation — and every aggregate after it — is sized by the
    * query's posting lists, not the corpus token count. Corpus stats
    * (N, avgdl) ride in as a broadcast 1-row cross join (the HWM
    * pattern); the final top-k is TakeOrdered, never a global sort.
    * Ordering ties break on the ROUNDED score then id, so the cut is
    * engine-deterministic.
    *
    * Emits (idCol, n_terms, bm25), bm25 rounded to 4, at most k rows
    * (docs containing no query term score 0 and are not returned).
    */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val qArr = F.array(queryTerms.distinct.map(F.lit(_)): _*)
    val lens = df.select(F.col(idCol),
      TextFunctions.tokenCount(F.col(textCol)).cast("long").as("dl"))
    val stats = lens.agg(F.count(F.lit(1)).as("nd"), F.avg("dl").as("avgdl"))
    val hits = df.select(F.col(idCol),
      F.explode(F.filter(TextFunctions.tokens(F.col(textCol)),
        t => F.array_contains(qArr, t))).as("term"))
    val tf = hits.groupBy(idCol, "term").agg(F.count(F.lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).as("dfreq"))
    val idf = F.log(F.lit(1.0) +
      (F.col("nd") - F.col("dfreq") + 0.5) / (F.col("dfreq") + 0.5))
    val termScore = idf * (F.col("tf") * (k1 + 1)) /
      (F.col("tf") + F.lit(k1) *
        (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / F.col("avgdl")))
    tf.join(F.broadcast(dfreq), "term")
      .join(lens, Seq(idCol))
      .crossJoin(F.broadcast(stats))
      .withColumn("term_score", termScore)
      .groupBy(idCol)
      .agg(F.count(F.lit(1)).as("n_terms"),
        F.round(F.sum("term_score"), 4).as("bm25"))
      .orderBy(F.col("bm25").desc, F.col(idCol))
      .limit(k)
  }

  /** Word n-grams WITHOUT de-duplication — the counting relation behind
    * [[repetitionStats]] (contrast `Dedup.shingleTable`, which is
    * distinct-per-doc because Jaccard is a set measure; repetition is a
    * bag measure, the multiplicity IS the signal).
    */
  private def gramTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val w = F.col("__w")
    val grams = F.transform(
      F.sequence(F.lit(0), F.size(w) - n),
      i => F.concat_ws(" ", F.slice(w, i + 1, F.lit(n))))
    df.select(F.col(idCol), TextFunctions.tokens(F.col(textCol)).as("__w"))
      .select(F.col(idCol),
        F.explode(F.when(F.size(w) >= n, grams).otherwise(F.array())).as("gram"))
  }

  /** Gopher-style repetition signals, per document (Rae et al. 2021 §A1.1
    * "repetitious text" filters, adapted to a newline-free corpus):
    *
    *   - `dup_tok_frac`      — fraction of tokens that are repeats of an
    *                           earlier token: (n_tok − n_distinct) / n_tok;
    *   - `top_bigram_frac`   — fraction of the document's characters
    *                           covered by occurrences of its single most
    *                           frequent word bigram (ties broken by
    *                           lexicographic order, so the answer is
    *                           deterministic in any engine);
    *   - `dup_trigram_frac`  — char-weighted fraction of trigram
    *                           occurrences whose trigram appears more
    *                           than once: Σ_{g:c>1} c·len(g) / Σ_g c·len(g).
    *
    * `keep` applies the thresholds: docs dominated by a single phrase or
    * by repeated trigram runs are machine-generated/boilerplate with high
    * probability and get dropped before training.
    *
    * Scale: two explode→groupBy passes keyed by (doc, gram) — near-uniform
    * keys, map-side partial aggregation, output one row per doc. No
    * driver round-trips, no UDFs; the per-doc token stats are pure
    * codegen'd Columns. Docs shorter than n tokens contribute NULL for
    * that n-gram metric (and pass that branch of the filter), matching
    * SQL-semantics left joins in the oracle.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
      maxDupTokFrac: Double = 0.65,
      maxTopBigramFrac: Double = 0.10,
      maxDupTrigramFrac: Double = 0.05): DataFrame = {
    val id = F.col(idCol)
    val w = TextFunctions.tokens(F.col(textCol))
    val base = df.select(
      id,
      F.size(w).as("n_tok"),
      F.size(F.array_distinct(w)).as("n_dis"),
      F.length(F.trim(F.col(textCol))).as("__tlen"))

    val c2 = gramTable(df, idCol, textCol, 2)
      .groupBy(id, F.col("gram")).agg(F.count(F.lit(1)).as("c"))
    val top2 = c2
      .withColumn("rn", F.row_number().over(
        Window.partitionBy(idCol).orderBy(F.col("c").desc, F.col("gram"))))
      .filter(F.col("rn") === 1)
      .select(id, F.col("gram").as("top_bigram"), F.col("c").as("__top_c"))

    val d3 = gramTable(df, idCol, textCol, 3)
      .groupBy(id, F.col("gram")).agg(F.count(F.lit(1)).as("c"))
      .groupBy(idCol)
      // raw exact-integer divisions throughout: bit-identical in any
      // engine, so the keep/drop thresholds below are portable (decimal
      // rounding would tie-break engine-dependently on boundary fractions)
      .agg((
        F.sum(F.when(F.col("c") > 1, F.col("c") * F.length(F.col("gram"))).otherwise(F.lit(0)))
          .cast("double") /
          F.sum(F.col("c") * F.length(F.col("gram")))).as("dup_trigram_frac"))

    base
      .join(top2, Seq(idCol), "left")
      .join(d3, Seq(idCol), "left")
      .withColumn("dup_tok_frac",
        (F.col("n_tok") - F.col("n_dis")).cast("double") / F.col("n_tok"))
      .withColumn("top_bigram_frac",
        (F.col("__top_c") * F.length(F.col("top_bigram"))).cast("double") / F.col("__tlen"))
      .withColumn("keep",
        (F.coalesce(F.col("dup_tok_frac") <= maxDupTokFrac, F.lit(true)) &&
         F.coalesce(F.col("top_bigram_frac") <= maxTopBigramFrac, F.lit(true)) &&
         F.coalesce(F.col("dup_trigram_frac") <= maxDupTrigramFrac, F.lit(true))).cast("int"))
      .select(id, F.col("n_tok"), F.col("dup_tok_frac"),
        F.col("top_bigram"), F.col("top_bigram_frac"), F.col("dup_trigram_frac"), F.col("keep"))
  }
}
