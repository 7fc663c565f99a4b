package graft.pipeline

import graft.dedup.{Clusters, NearDedup}
import graft.functions.TextFunctions
import graft.operators.{Sampling, SequencePacking}
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** End-to-end training-corpus curation: the composition proof that the
  * library's LLM-data operators fit together as one flow —
  *
  *   (optional) boilerplate-line scrub -> PII scrub -> quality gate ->
  *   exact dedup -> (optional) duplicated-span gate -> near-dup cluster
  *   resolution -> cluster-aware split -> (optional) temperature
  *   rebalance of train -> sequence packing -> bounded shard publish
  *
  * mirroring the reference pipeline's architecture (staged transforms
  * with row-count quality gates between them, `airflow/.../
  * airbnb-etl-airflow.py:108-147`) over the training-data operator set.
  * The per-stage counts in the returned report ARE those gates: a stage
  * that unexpectedly empties the corpus fails loudly at the caller, not
  * three stages later.
  *
  * Scale notes: every stage is one of the already-probed operators; the
  * only new plan shape is packing parallelism — packing groups by
  * (split, pack_group = idHash % packGroups) because a window partitioned
  * by split alone would serialize each split through one task at corpus
  * scale. Bins are local work units, so sharding them by a deterministic
  * hash changes nothing semantically (bin ids are per (split, pack_group)).
  */
object Curation {

  /** Row counts after each stage plus the published shard-file count.
    * `afterOovGate` equals `afterQuality`, and `afterSpanGate` equals
    * `afterExactDedup`, when the respective optional gate is disabled
    * (the defaults).
    */
  case class CurationReport(
      input: Long,
      afterQuality: Long,
      afterOovGate: Long,
      afterExactDedup: Long,
      afterSpanGate: Long,
      afterNearDedup: Long,
      trainAfterSample: Long,
      bySplit: Map[String, Long],
      shardFiles: Long)

  /** Runs the full flow and publishes `split`-partitioned parquet shards
    * of (id, lang, text, n_tokens, pack_group, bin) under `outDir`.
    *
    * `trainFraction < 1.0` applies [[Sampling.temperatureSample]] to the
    * train split only (val/test stay complete — eval sets are never
    * silently subsampled); 1.0 skips sampling.
    */
  def curate(docs: DataFrame, idCol: String, textCol: String, langCol: String,
             outDir: String,
             minQuality: Double = 0.2,
             nearDupThreshold: Double = 0.5,
             trainFraction: Double = 1.0,
             alpha: Double = 0.5,
             contextTokens: Long = 512L,
             shardRows: Long = 100000L,
             packGroups: Int = 256,
             lineDedupMinDf: Int = 0,
             maxDupSpanPermille: Int = 1000,
             spanK: Int = 16,
             maxOovPermille: Int = 1000,
             oovVocabSize: Int = 5000): CurationReport = {
    require(minQuality >= 0.0 && minQuality <= 1.0,
      s"curate: minQuality in [0,1], got $minQuality")
    require(packGroups > 0, s"curate: packGroups must be positive, got $packGroups")
    val input = docs.count()

    // 0. optional corpus-level boilerplate-line scrub (C4 stage) — BEFORE
    // quality scoring, so a shared footer can neither inflate a junk doc
    // past the gate nor drag a good one under it
    val base0 = docs.select(col(idCol).as("id"), col(langCol).as("lang"),
      col(textCol).as("text"))
    val base =
      if (lineDedupMinDf < 2) base0
      else base0.select(col("id"), col("lang")).join(
        graft.dedup.LineDedup.scrubHotLines(base0, "id", "text", lineDedupMinDf)
          .select(col("id"), col("text_scrubbed").as("text")),
        Seq("id"))

    // 1+2. scrub PII, then gate on quality of the SCRUBBED text (a page of
    // emails should be judged after redaction, not before) — one projection
    val cleaned = base.select(col("id"), col("lang"),
        TextFunctions.piiRedact(col("text")).as("text"))
      .filter(TextFunctions.qualityScore(col("text")) >= minQuality)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val afterQuality = cleaned.count()

    // 2b. optional tokenizer-health gate: drop docs whose token
    //     occurrences fall outside the corpus's own top-`oovVocabSize`
    //     vocabulary more than `maxOovPermille` of the time — the
    //     rare-token/byte-fallback spam (binary spill, wrong script,
    //     boilerplate IDs) that sails past the character-level quality
    //     score. 1000 (the default) disables the stage: every permille
    //     is <= 1000, the gate could drop nothing.
    require(maxOovPermille >= 0,
      s"curate: maxOovPermille must be >= 0 (1000 disables), got $maxOovPermille")
    val oovGated =
      if (maxOovPermille >= 1000) cleaned
      // left join, not left_semi: a zero-token doc has NO oovRate row
      // (nothing to gate on) and must survive — the streaming oovGate
      // scores the same doc 0 permille, and the two forms must agree
      else cleaned.join(
          graft.search.Lexical.oovRate(cleaned, "id", "text", oovVocabSize)
            .select(col("doc_id").as("id"), col("oov_permille")),
          Seq("id"), "left")
        .filter(col("oov_permille").isNull || col("oov_permille") <= maxOovPermille)
        .drop("oov_permille")
        .persist(StorageLevel.MEMORY_AND_DISK)
    val afterOov = if (maxOovPermille >= 1000) afterQuality else oovGated.count()

    // 3. exact dedup (min-id survivor), one hash agg + a semi join back
    val exact = oovGated.join(
        NearDedup.exactByContent(oovGated, "id", "text").select("id"),
        Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val afterExact = exact.count()
    cleaned.unpersist(blocking = false)
    if (!(oovGated eq cleaned)) oovGated.unpersist(blocking = false)

    // 3b. optional cross-document span gate: a doc that is mostly other
    //     docs' verbatim passages (license blocks, quoted articles) passes
    //     exact dedup (its full text is unique) and can sit below the
    //     near-dup threshold (the rest of the doc differs), yet training
    //     on it memorizes the passage — the exact case SpanDedup exists
    //     for. 1000 (the default) disables the stage entirely: every
    //     share is <= 1000 permille, so the gate could drop nothing.
    val spanGated =
      if (maxDupSpanPermille >= 1000) exact
      else exact.join(
          graft.dedup.SpanDedup.dupSpanShare(exact, "id", "text",
              spanK, maxDupSpanPermille)
            .filter(col("keep")).select(col("doc_id").as("id")),
          Seq("id"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK)
    val afterSpan = if (maxDupSpanPermille >= 1000) afterExact else spanGated.count()

    // 4. near-dup cluster resolution: keep each cluster's min-id member.
    //    `clusters` is localCheckpoint'ed by connectedComponents, so it
    //    stays valid after the sketch caches are released.
    val clusters = Clusters.connectedComponents(
      NearDedup.minhashPairs(spanGated, "id", "text", threshold = nearDupThreshold),
      "id_a", "id_b")
    NearDedup.releaseSketches()
    val deduped = spanGated.join(clusters, Seq("id"), "left")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("id"))
      .drop("cluster_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val afterNear = deduped.count()
    exact.unpersist(blocking = false)
    if (!(spanGated eq exact)) spanGated.unpersist(blocking = false)

    // 5. cluster-aware split (near-copies can never straddle train/test —
    //    here each survivor heads its own cluster, and hashing by cluster
    //    id keeps the assignment stable even if non-survivors are later
    //    re-added for ablations)
    val withSplit = deduped
      .join(Clusters.splitByCluster(deduped, "id", clusters), Seq("id"))

    // 6. optional temperature rebalance of train only
    val train = withSplit.filter(col("split") === "train")
    val sampledTrain =
      if (trainFraction >= 1.0) train
      else Sampling.temperatureSample(train, Seq("lang"), "id", trainFraction, alpha)
    val curated = sampledTrain
      .unionByName(withSplit.filter(col("split") =!= "train"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val trainAfterSample = sampledTrain.count()
    val bySplit = curated.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    deduped.unpersist(blocking = false)

    // 7. pack into context windows and publish bounded shards
    val packed = SequencePacking.packBins(
      curated.withColumn("n_tokens",
          TextFunctions.tokenCount(col("text")).cast("long"))
        .withColumn("pack_group",
          graft.functions.HashFunctions.idHash32(col("id")) % packGroups),
      Seq("split", "pack_group"), Seq(col("id")), "n_tokens", contextTokens)
    Sources.writeShards(packed, outDir,
      partitionCols = Seq("split"),
      orderCols = Seq("pack_group", "bin", "id"),
      maxRecordsPerShard = shardRows)
    curated.unpersist(blocking = false)

    val shardFiles = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(outDir), docs.sparkSession.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(outDir), true)
      var n = 0L
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(".parquet")) n += 1 }
      n
    }
    CurationReport(input, afterQuality, afterOov, afterExact, afterSpan,
      afterNear, trainAfterSample, bySplit, shardFiles)
  }

  /** Per-stage admission counts for one [[curateIncrement]] batch. */
  case class IncrementReport(
      batch: Long,
      afterQuality: Long,
      contentNew: Long,
      accepted: Long)

  /** Accepted rows plus the state DELTA the caller appends to the
    * published corpus state (all plain DataFrames — write them next to
    * the snapshot exactly like the state they extend). */
  case class IncrementResult(
      accepted: DataFrame,
      newFingerprints: DataFrame,
      newState: graft.dedup.MinhashState,
      report: IncrementReport)

  /** The INCREMENTAL form of [[curate]]'s admission stages — what a daily
    * ingest actually runs once a corpus is published: each batch is
    * scrubbed and gated, exact-known content is dropped against the state
    * fingerprint set WITHOUT shuffling it ([[graft.dedup.Ingest]]'s
    * bloom-pruned gate), near-duplicates of state or of smaller-id batch
    * docs are dropped via [[NearDedup.minhashPairsIncremental]] (which
    * never generates state-state pairs), and the returned delta frames
    * extend the state for the next batch. No full-corpus stage anywhere:
    * increment cost tracks the batch, not the corpus.
    *
    * Composition contract (PipelineSpec drives it across two batches):
    * admitting batch 1's delta into state makes batch 2's duplicates of
    * batch 1 drop exactly like duplicates of the original corpus.
    */
  def curateIncrement(state: graft.dedup.MinhashState, stateFps: DataFrame,
                      batch: DataFrame, idCol: String, textCol: String,
                      langCol: String,
                      bloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
                      minQuality: Double = 0.2,
                      nearDupThreshold: Double = 0.5,
                      expectedStateKeys: Long = 1000000L,
                      shingleLen: Int = 3, k: Int = 64, bands: Int = 16,
                      maxBucketSize: Int = 200): IncrementResult = {
    import graft.dedup.{Ingest, NearDedup}
    import graft.functions.HashFunctions
    val batchN = batch.count()

    // 1. scrub + quality-gate the batch (same stage as curate's 1+2)
    val cleaned = batch.select(col(idCol).as("id"), col(langCol).as("lang"),
        TextFunctions.piiRedact(col(textCol)).as("text"))
      .filter(TextFunctions.qualityScore(col("text")) >= minQuality)
      .withColumn("fp", HashFunctions.fingerprint64(col("text")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val afterQuality = cleaned.count()

    // 2. exact gate: drop content already in state (bloom-pruned, state
    //    never shuffles), then collapse exact copies WITHIN the batch to
    //    their min-id survivor
    val contentNewRows = bloom match {
      case Some(b) => Ingest.newRowsWithBloom(stateFps, cleaned, "fp", b)
      case None    => Ingest.newRows(stateFps, cleaned, "fp", expectedStateKeys)
    }
    val exactNew = contentNewRows.join(
        NearDedup.exactByContent(contentNewRows, "id", "text").select("id"),
        Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val contentNew = exactNew.count()
    cleaned.unpersist(blocking = false)

    // 3. near-dup admission: drop a batch doc that near-duplicates state
    //    content (state ids are established precedent) or a smaller-id
    //    batch doc. Pairs are batch-touching only — never state x state.
    val pairs = NearDedup.minhashPairsIncremental(state, exactNew,
      "id", "text", shingleLen = shingleLen, k = k, bands = bands,
      threshold = nearDupThreshold, maxBucketSize = maxBucketSize)
    // pair sides are canonicalized (id_a < id_b) with no side guaranteed
    // to be the batch one, so flag each side: a batch doc paired with
    // state drops regardless of id order; in a batch-batch pair the
    // larger id (id_b) drops
    val flags = exactNew.select(col("id")).withColumn("__b", lit(true))
    val pf = pairs
      .join(flags.select(col("id").as("id_a"), col("__b").as("a_b")),
        Seq("id_a"), "left")
      .join(flags.select(col("id").as("id_b"), col("__b").as("b_b")),
        Seq("id_b"), "left")
    // one pass, one dropped id per pair row: the batch-flagged id_b if
    // there is one (batch-batch pairs drop the larger id; state-batch
    // pairs with the batch side canonical-larger drop it too), else the
    // batch-flagged id_a (batch side canonical-smaller, state precedent
    // wins). A unioned two-filter form evaluated the whole pair DAG
    // twice per action — measured 2x on the admission stage.
    val dropIds = pf
      .filter(col("a_b").isNotNull || col("b_b").isNotNull)
      .select(when(col("b_b").isNotNull, col("id_b")).otherwise(col("id_a")).as("id"))
      .distinct()
    // localCheckpoint, not persist: the result frames are the NEXT
    // increment's state, and carrying this batch's full admission lineage
    // into every later plan (which references state several times per
    // join) compounds the plan tree exponentially across batches. The
    // checkpoint is batch-sized — in production the caller's
    // write-to-parquet does the same truncation.
    val accepted = exactNew
      .join(dropIds, Seq("id"), "left_anti")
      .localCheckpoint()
    val acceptedN = accepted.count()
    NearDedup.releaseSketches()
    exactNew.unpersist(blocking = false)

    // 4. state delta for the accepted survivors: fingerprints + sketch/
    //    bucket frames built with the SAME parameters as the state they
    //    extend — the caller's shingleLen/k/bands/maxBucketSize flow into
    //    BOTH the pairing call above and this delta, so a state built with
    //    non-default params gets a matching-banded delta
    val delta = NearDedup.minhashState(accepted, "id", "text",
      shingleLen = shingleLen, k = k, bands = bands,
      maxBucketSize = maxBucketSize, reuseSketches = false)
    IncrementResult(
      accepted.select(col("id"), col("lang"), col("text")),
      accepted.select(col("fp")),
      delta,
      IncrementReport(batchN, afterQuality, contentNew, acceptedN))
  }

  /** Per-stage admission counts for one [[curateIncrementEmbeddings]]
    * batch (no quality/exact stages on vectors — near-dup is the gate). */
  case class EmbeddingIncrementReport(batch: Long, accepted: Long)

  /** Accepted vectors plus the banded-index DELTA the caller appends to
    * the published embedding state — same parquet-append contract as the
    * text side's [[IncrementResult]]. */
  case class EmbeddingIncrementResult(
      accepted: DataFrame,
      newState: graft.dedup.EmbeddingState,
      report: EmbeddingIncrementReport)

  /** The EMBEDDING-side twin of [[curateIncrement]] — the admission loop a
    * pipeline re-embedding a snapshot diff ([[graft.dedup.Ingest
    * .diffSnapshots]]'s added/changed ids) runs against the published
    * vector corpus: each batch vector that near-duplicates state content
    * (state ids are established precedent) or a smaller-id batch vector is
    * dropped via [[NearDedup.embeddingPairsIncremental]] (batch-touching
    * pairs only — state x state is never generated, and a re-ingested id
    * is an upsert, not a self-pair), and the returned delta extends the
    * state for the next batch. Increment cost tracks the batch.
    *
    * The LSH parameters flow into both the pairing call and the returned
    * delta, so a state built with non-default `nBits`/`bands` gets a
    * matching-banded delta — same guarantee as the text side.
    *
    * Composition contract (PipelineSpec drives two batches): admitting
    * batch 1's delta into state makes batch 2's near-copies of batch 1
    * drop exactly like near-copies of the original corpus.
    */
  def curateIncrementEmbeddings(state: graft.dedup.EmbeddingState,
                                batch: DataFrame, idCol: String,
                                vecCol: String, dim: Int,
                                threshold: Double = 0.95,
                                nBits: Int = 16, bands: Int = 4): EmbeddingIncrementResult = {
    // Eagerly checkpoint the batch ONCE: it is referenced by six
    // downstream subplans (size gate, banding, both drop-flag probes, the
    // upsert anti side, the admission anti join), and without this each
    // reference re-runs the caller's batch lineage — for a typical
    // snapshot-diff batch that is a multi-way union of transformed scans,
    // re-executed and re-codegen'd per stage. Checkpoint blocks also cap
    // the lineage the returned delta carries (the text twin's OOM lesson).
    val base = batch.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .localCheckpoint()
    val batchN = base.count()

    val pairs = NearDedup.embeddingPairsIncremental(state, base, "id", "vec",
      dim = dim, threshold = threshold, nBits = nBits, bands = bands)
    // canonicalized pair sides carry no batch/state marker, so flag them
    // (same admission rule as the text side): batch-with-state drops the
    // batch side whichever side it is; batch-with-batch drops the larger id
    val flags = base.select(col("id")).withColumn("__b", lit(true))
    val pf = pairs
      .join(flags.select(col("id").as("id_a"), col("__b").as("a_b")),
        Seq("id_a"), "left")
      .join(flags.select(col("id").as("id_b"), col("__b").as("b_b")),
        Seq("id_b"), "left")
    // single-pass drop rule — see the text twin for why not a union
    val dropIds = pf
      .filter(col("a_b").isNotNull || col("b_b").isNotNull)
      .select(when(col("b_b").isNotNull, col("id_b")).otherwise(col("id_a")).as("id"))
      .distinct()
    // localCheckpoint for the same lineage-truncation reason as the text
    // side: these frames are the NEXT increment's state
    val accepted = base.join(dropIds, Seq("id"), "left_anti").localCheckpoint()
    val acceptedN = accepted.count()
    NearDedup.releaseSketches()

    val delta = NearDedup.embeddingState(accepted, "id", "vec",
      dim = dim, nBits = nBits, bands = bands, reuseSketches = false)
    EmbeddingIncrementResult(accepted,
      delta, EmbeddingIncrementReport(batchN, acceptedN))
  }

  /** DOMAIN-level quality gate (the CCNet/RefinedWeb pattern): score
    * every document, aggregate to its source/domain, and gate WHOLE
    * SOURCES — a domain whose aggregate quality sits below
    * `minMeanTtrPpm`, or with fewer than `minDocs` documents (too few to
    * trust the mean), drops with every document in it. This is the
    * group-level complement of the per-doc gates (q140 Gopher, q143
    * classifier): spam/template domains are cheaper to kill at the
    * domain than doc-by-doc, and the "not enough evidence" rule is the
    * part a per-doc filter cannot express.
    *
    * Output per document: `(doc_id, source, ttr_ppm, src_docs,
    * src_mean_ttr_ppm, keep)` — verdicts, not a filtered frame, so the
    * drop is auditable (the reference's stage-gate convention).
    *
    * Scale shape: ONE tokenize pass (the CPU cost at corpus scale), then
    * one shuffle of narrow `(source, doc_id, ttr_ppm)` rows into a
    * source-partitioned window for the count/sum — text never shuffles,
    * and no second scan recomputes the scores (a stats-then-join
    * formulation would tokenize twice). A mega-domain makes one fat
    * window partition of 16-byte rows; count/sum over it streams.
    * Probe-backed (Scratch, 40-token docs over 1000 sources): 2.9 s at
    * 100k docs, 2.0 s at 1M — flat at 10x on 32 cores (tokenize-bound,
    * fully parallel; the 100k number is session warmup).
    */
  def sourceQualityGate(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String, minMeanTtrPpm: Long,
                        minDocs: Long): DataFrame = {
    require(minDocs >= 1, s"sourceQualityGate: minDocs >= 1, got $minDocs")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    docScores(docs, idCol, textCol, sourceCol)
      .withColumn("src_docs", count(lit(1)).over(w))
      .withColumn("__sum", sum(col("ttr_ppm")).over(w))
      .withColumn("src_mean_ttr_ppm", expr("__sum div src_docs"))
      .drop("__sum")
      .withColumn("keep",
        col("src_docs") >= minDocs && col("src_mean_ttr_ppm") >= minMeanTtrPpm)
  }

  /** Per-source quality STATE in the long `(source, metric, cnt)` shape —
    * `metric ∈ {docs, ttr_sum}` — so the generic abelian machinery
    * applies unchanged: increments merge with [[mergeSourceStates]],
    * takedowns subtract with [[graft.operators.Retraction.subtract]] on
    * key `(source, metric)`, and [[sourceVerdictsFromState]] reads
    * domain verdicts back out. The mean is deliberately NOT in the
    * state (means don't add); it is derived at readout as
    * `ttr_sum div docs` — the same integer the one-pass gate computes,
    * so state-served verdicts equal a rescan exactly (q171).
    */
  def sourceQualityState(docs: DataFrame, idCol: String, textCol: String,
                         sourceCol: String): DataFrame =
    docScores(docs, idCol, textCol, sourceCol)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("docs"), sum(col("ttr_ppm")).as("ttr_sum"))
      .unpivot(Array(col("source")), Array(col("docs"), col("ttr_sum")),
        "metric", "cnt")

  /** Merge persisted per-increment source states: per-(source, metric)
    * sum — map-side-combinable, state-cardinality shuffle only. */
  def mergeSourceStates(parts: Seq[DataFrame]): DataFrame = {
    require(parts.nonEmpty, "mergeSourceStates: need at least one state")
    parts.reduce(_ unionByName _)
      .groupBy(col("source"), col("metric")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Domain verdicts served from a persisted/merged/retracted state —
    * no corpus rescan: `(source, src_docs, src_mean_ttr_ppm, keep)`,
    * the same integers and thresholds as [[sourceQualityGate]]'s
    * per-source columns. Sources fully retracted away (docs = 0) have
    * no verdict row (state drops zero keys). */
  def sourceVerdictsFromState(state: DataFrame, minMeanTtrPpm: Long,
                              minDocs: Long): DataFrame =
    state.groupBy(col("source"))
      .agg(sum(when(col("metric") === "docs", col("cnt"))).as("src_docs"),
        sum(when(col("metric") === "ttr_sum", col("cnt"))).as("__ts"))
      .withColumn("src_mean_ttr_ppm", expr("__ts div src_docs"))
      .drop("__ts")
      .withColumn("keep",
        col("src_docs") >= minDocs && col("src_mean_ttr_ppm") >= minMeanTtrPpm)

  /** Per-doc type-token ratio in ppm. Null text FAILS LOUDLY (the
    * hygieneAudit convention: null is unknown, not clean): a null row
    * would otherwise count in the window's `src_docs` while `sum`
    * skipped its null score, silently deflating `src_mean_ttr_ppm` and
    * desynchronizing the state's docs/ttr_sum pair. Route nulls through
    * a hygiene gate before domain scoring. */
  private def docScores(docs: DataFrame, idCol: String, textCol: String,
                        sourceCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
        when(col(textCol).isNull, raise_error(lit(
          "Curation.docScores: null text (gate nulls out before scoring)")))
          .otherwise(TextFunctions.tokens(col(textCol))).as("__t"))
      .select(col("source"), col("doc_id"),
        expr("size(array_distinct(__t)) * 1000000L div greatest(size(__t), 1)")
          .as("ttr_ppm"))
}
