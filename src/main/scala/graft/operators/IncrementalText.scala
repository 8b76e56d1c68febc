package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.VersionedDir

/** Incremental retrieval-index maintenance — the durable sibling of
  * [[TextAnalysis.bm25]], following the durable-index discipline of
  * [[IncrementalDedup]]: a corpus should never be re-tokenized, so each
  * batch tokenizes once into a durable index and scoring runs against the
  * index alone.
  *
  * Index layout under `indexDir`: `committed/` is a
  * [[graft.util.VersionedDir]] whose head names the index's batch set,
  * one data dir per batch:
  *
  * {{{
  *   committed/meta-<v>.json          the batch set of version v
  *   committed/data-<v>-<uuid>/tf/    (idCol, token, tf, ver)  inverted index
  *   committed/data-<v>-<uuid>/dl/    (idCol, dl, ver, fp)     doc lengths (0
  *                                                             for token-free
  *                                                             docs) + content
  *                                                             fingerprint
  *   committed/data-<v>-<uuid>/gone/  (idCol, ver)             deletions
  *   committed/data-<v>-<uuid>/stats/ (n_docs, total_dl, ver)  ADDITIVE deltas
  * }}}
  *
  * A batch (an append, upsert or delete) writes its data dir complete and
  * COMMITS by one meta rename naming the old set plus the new batch; a
  * compaction commits a set of one. A reader resolves the head once and
  * reads exactly its set, so a crash anywhere leaves the previous set or
  * the new one, never a half-indexed batch or a partial corpus (the
  * protocol [[graft.cache.ParquetQueryCache]] commits state versions
  * with); superseded batch dirs age out through the deferred cleanup. The
  * batch set's version is the batch's `ver` below.
  *
  * MUTATIONS, not just appends: every indexed doc-version carries `ver`
  * (the writing batch's sequence, allocated under the writer lease) and
  * `fp` (a content fingerprint). The LIVE version of a doc is its
  * highest-ver row across `dl ∪ gone` — a newer dl row supersedes an
  * update's old postings, a newer gone row deletes the doc, a yet-newer
  * dl row resurrects it. [[bm25Upsert]] re-indexes exactly the docs whose
  * content changed (fp mismatch) plus the novel ones — replaying a
  * crashed upsert is a no-op because nothing's fp changed the second
  * time. [[bm25Delete]] tombstones live ids only (replay: no-op). The
  * per-batch `stats` rows stay ADDITIVE under mutation: an update's row
  * carries (novel-doc count, new_dl − superseded_dl), a deletion's row
  * carries negatives — so corpus stats remain a sum over tiny per-batch
  * rows, never an O(docs) scan.
  *
  * Scale shape (the 100 TB story): an append/upsert tokenizes ONLY the
  * batch — history is touched by one column-pruned join on doc ids.
  * Scoring reads `tf` with the query-term filter PUSHED to parquet
  * (batches are written token-sorted, and [[compactIndex]] re-clusters
  * the whole index by token, so row-group stats prune almost
  * everything), resolves liveness only for the MATCHED ids, `dl` joins
  * only the matched docs, and the corpus stats are a sum over one tiny
  * row per batch. Nothing rescans the corpus, ever.
  *
  * Single-writer contract (as in [[IncrementalDedup]]): serialize
  * appends/upserts/deletes/compactions per index (the writer lease
  * enforces it — it also makes `ver` allocation race-free); readers take
  * no lease and may run concurrently with any of them.
  */
object IncrementalText {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One resolved head of the index: the batch set every read of one
    * call goes through, so a concurrent commit cannot mix two sets. */
  private final case class Batches(vd: VersionedDir,
      head: Option[VersionedDir.Head]) {
    def nonEmpty: Boolean = dirs.nonEmpty
    def dataDirs: Seq[String] = head.toSeq.flatMap(_.dataDirs)
    def dirs: Seq[String] = dataDirs.map(vd.path)

    /** the batch dirs' tables `sub` (explicit paths — a glob over a
      * table only SOME batches have would throw) */
    def sub(name: String): Seq[String] = dirs
      .filter(d => vd.fs.exists(new Path(d, name))).map(d => s"$d/$name")

    /** the next batch set's step: its version is the batch's `ver`,
      * one past every committed batch (1 for the first) */
    def next(): vd.Next = vd.next(head.map(_.version), atLeast = 1L)
  }

  private def batches(spark: SparkSession, indexDir: String): Batches = {
    val vd = VersionedDir(fsOf(spark, indexDir), new Path(indexDir, "committed"))
    Batches(vd, vd.head)
  }

  /** The id column's type, probed from ONE file footer of the first dl
    * dir (driver-side, no Spark job — mergeSchema=false inference reads
    * a single footer). Every table of one index shares the id type (one
    * writer), so one probe covers dl/tf/gone. */
  private def idType(spark: SparkSession, b: Batches, idCol: String)
      : org.apache.spark.sql.types.DataType =
    spark.read.parquet(b.sub("dl").head).schema(idCol).dataType

  /** Explicit-schema read with back-compat defaults: batches written
    * before the mutation format lack ver/fp — under an explicit schema
    * the parquet reader fills the absent columns with nulls, which
    * normalize to ver 0 (strictly older than any allocated version, as
    * required). Replaces the former mergeSchema read, whose distributed
    * all-footers inference launched one Spark job per read call — pure
    * fixed cost on every append/upsert/delete/score (optimization guide
    * §1/§5: don't spend scheduler round-trips on schemas the writer
    * already knows). */
  private def readDl(spark: SparkSession, b: Batches,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, idType(spark, b, idCol)),
      StructField("dl", LongType), StructField("ver", LongType),
      StructField("fp", LongType)))
    spark.read.schema(schema).parquet(b.sub("dl"): _*)
      .select(col(idCol), col("dl"),
        coalesce(col("ver"), lit(0L)).as("ver"), col("fp"))
  }

  private def readTf(spark: SparkSession, b: Batches,
      idCol: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField(idCol, idType(spark, b, idCol)),
      StructField("token", StringType), StructField("tf", LongType),
      StructField("ver", LongType)))
    spark.read.schema(schema).parquet(b.sub("tf"): _*)
      .select(col(idCol), col("token"), col("tf"),
        coalesce(col("ver"), lit(0L)).as("ver"))
  }

  private val statsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("total_dl",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ver",
      org.apache.spark.sql.types.LongType)))

  private def readStats(spark: SparkSession, b: Batches): DataFrame =
    spark.read.schema(statsSchema).parquet(b.sub("stats"): _*)

  private def readGone(spark: SparkSession, b: Batches,
      idCol: String): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val dirs = b.sub("gone")
    if (dirs.isEmpty) None
    else {
      val schema = StructType(Seq(
        StructField(idCol, idType(spark, b, idCol)),
        StructField("ver", LongType)))
      Some(spark.read.schema(schema).parquet(dirs: _*)
        .select(col(idCol), col("ver")))
    }
  }

  /** LIVE doc-versions among `ids` (or all docs when None): for each id
    * the highest-ver row across dl ∪ gone wins; a gone winner means the
    * doc is deleted and yields no row. Output: (idCol, ver, dl, fp). */
  private def liveDocs(spark: SparkSession, b: Batches, idCol: String,
      ids: Option[DataFrame]): DataFrame = {
    val dl0 = readDl(spark, b, idCol)
    val dl = ids.fold(dl0)(i => dl0.join(i, Seq(idCol), "left_semi"))
    val cand = readGone(spark, b, idCol) match {
      case None => dl.withColumn("alive", lit(true))
      case Some(g0) =>
        val g = ids.fold(g0)(i => g0.join(i, Seq(idCol), "left_semi"))
        dl.withColumn("alive", lit(true)).unionByName(
          g.select(col(idCol), lit(-1L).as("dl"), col("ver"),
            lit(null).cast("long").as("fp"), lit(false).as("alive")))
    }
    cand.groupBy(col(idCol))
      .agg(max_by(struct(col("dl"), col("fp"), col("alive")), col("ver"))
        .as("w"), max(col("ver")).as("ver"))
      .filter(col("w.alive"))
      .select(col(idCol), col("ver"), col("w.dl").as("dl"),
        col("w.fp").as("fp"))
  }

  /** content fingerprint — collision-negligible for novelty decisions
    * (a false "unchanged" requires a 64-bit xxhash collision between two
    * versions of the SAME doc id) */
  private def fpCol(textCol: String) = xxhash64(col(textCol))

  /** tokenize + write + commit one batch of `docs` (already deduped, one
    * row per id) onto the set `b`, stamped with the batch's `ver`; the
    * batch's additive stats row
    * carries `statsDocsDelta` docs and (Σ dl − `statsDlAdjust`) length.
    * Returns the indexed count.
    *
    * One aggregation job computes the doc count AND the dl sum together
    * (it also materializes the lazy checkpoint) — the former separate
    * count()-then-sum() pair cost a scheduler round-trip per mutation
    * for identical answers. */
  private def commitBatch(spark: SparkSession, b: Batches,
      docs: DataFrame, textCol: String, idCol: String,
      statsDocsDelta: Long, statsDlAdjust: Long = 0L): Long = {
    val next = b.next()
    val ver = next.version
    val toks = docs
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf")).withColumn("ver", lit(ver))
    // every indexed doc gets a dl row — 0 for token-free docs, so the
    // liveness resolution covers them and n_docs matches raw count(*)
    // (the [[TextAnalysis.bm25]] idf numerator counts empty docs too)
    // size-coalesced BEFORE the lazy checkpoint: the checkpoint pins the
    // physical layout, so the dl write emits one right-sized file per
    // batch instead of one near-empty file per shuffle partition (and
    // every later liveness read opens that many fewer files)
    val dl = graft.util.SizedWrites.sizeCoalesced(
        docs.select(col(idCol), fpCol(textCol).as("fp"))
          .join(toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl")),
            Seq(idCol), "left")
          .select(col(idCol), coalesce(col("dl"), lit(0L)).as("dl"),
            lit(ver).as("ver"), col("fp")))
      .localCheckpoint(eager = false) // the agg below materializes
    val head = dl.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("s")).first()
    val n = head.getLong(0)
    if (n == 0L) return 0L
    val dlDelta = head.getLong(1) - statsDlAdjust
    val batch = next.dataDir()
    val out = b.vd.path(batch)
    // token-sorted within files so parquet row-group stats prune scoring
    // scans of terms the file does not contain
    // tf stays at the shuffle's own parallelism (NOT size-coalesced):
    // it is the one batch frame with real per-row work above the
    // exchange — the final (id, token) merge, the within-file token
    // sort and the parquet encode — and serializing that into one task
    // cost more than the saved task commits (bench A/B: text family
    // +16-34% with the coalesce vs +10% machine drift; reverted)
    tf.sortWithinPartitions(col("token")).write.parquet(s"$out/tf")
    dl.write.parquet(s"$out/dl")
    spark.range(1).select(lit(statsDocsDelta).as("n_docs"),
      lit(dlDelta).as("total_dl"), lit(ver).as("ver"))
      .coalesce(1).write.parquet(s"$out/stats")
    b.vd.commit(next, b.dataDirs :+ batch)
    n
  }

  /** Append one batch of documents to the index. Returns the number of
    * NOVEL documents indexed — ids with a LIVE version (and
    * batch-internal duplicates, resolved deterministically to the max
    * text) are dropped, which is also what makes a crash-replayed batch
    * a no-op. A previously DELETED id is novel again and re-indexes.
    * Content changes are ignored by design here — use [[bm25Upsert]]
    * when edits must re-index. */
  def bm25Append(spark: SparkSession, indexDir: String, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): Long =
      graft.util.WriterLease.withLease(spark, indexDir, "bm25Append") {
    // one grouped pass resolves batch-internal duplicates AND yields the
    // distinct ids (the former ids.distinct + anti + semi + groupBy
    // spent two extra shuffles per append re-deriving the same sets);
    // the novelty anti-join then runs over one row per id, and the
    // checkpoint feeds commitBatch without recomputing the join
    val docsIn = batch.groupBy(col(idCol)).agg(max(col(textCol)).as(textCol))
    val b = batches(spark, indexDir)
    val novelDocs = (if (b.nonEmpty)
        docsIn.join(liveDocs(spark, b, idCol,
          Some(docsIn.select(col(idCol)))).select(col(idCol)),
          Seq(idCol), "left_anti")
      else docsIn).localCheckpoint(eager = false) // count() materializes
    val n = novelDocs.count()
    if (n == 0L) return 0L
    commitBatch(spark, b, novelDocs, textCol, idCol, statsDocsDelta = n)
  }

  /** UPSERT one batch: novel ids are indexed like [[bm25Append]], ids
    * whose content CHANGED (fingerprint mismatch vs the live version)
    * are re-indexed — the new doc-version's higher `ver` supersedes the
    * old postings at read time, no old batch is touched — and unchanged
    * ids are dropped. Tokenizes only the novel+changed docs; per-batch
    * stats carry additive deltas (novel count, new_dl − superseded_dl)
    * so corpus stats stay a per-batch sum. Replaying a crashed upsert is
    * a no-op (nothing's fingerprint changed the second time). Returns
    * (novel, re-indexed). */
  def bm25Upsert(spark: SparkSession, indexDir: String, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): (Long, Long) =
      graft.util.WriterLease.withLease(spark, indexDir, "bm25Upsert") {
    val docsIn = batch.groupBy(col(idCol)).agg(max(col(textCol)).as(textCol))
    val b = batches(spark, indexDir)
    if (!b.nonEmpty) {
      // first batch: every doc is novel
      val docs = docsIn.localCheckpoint(eager = false)
      val n0 = docs.count()
      if (n0 == 0L) return (0L, 0L)
      val n = commitBatch(spark, b, docs, textCol, idCol,
        statsDocsDelta = n0)
      return (n, 0L)
    }
    val ids = docsIn.select(col(idCol))
    val live = liveDocs(spark, b, idCol, Some(ids))
      .select(col(idCol), col("dl").as("_old_dl"), col("fp").as("_old_fp"))
    // novel: no live version; changed: live fp differs from the batch's
    val joined = docsIn.join(live, Seq(idCol), "left")
      .withColumn("_new_fp", fpCol(textCol))
    val toIndex = joined.filter(col("_old_fp").isNull ||
      col("_new_fp") =!= col("_old_fp")).localCheckpoint(eager = false)
    // one aggregation job answers all three questions (total, novel,
    // superseded length) — was three separate jobs over the same frame
    val head = toIndex.agg(count(lit(1)).as("n"),
      count(when(col("_old_dl").isNull, lit(1))).as("novel"),
      coalesce(sum(coalesce(col("_old_dl"), lit(0L))), lit(0L)).as("sdl"))
      .first()
    val total = head.getLong(0)
    val novel = head.getLong(1)
    val changed = total - novel
    if (total == 0L) return (0L, 0L)
    val supersededDl = head.getLong(2)
    commitBatch(spark, b, toIndex.select(col(idCol), col(textCol)), textCol,
      idCol, statsDocsDelta = novel, statsDlAdjust = supersededDl)
    (novel, changed)
  }

  /** DELETE documents by id: live ids get a tombstone row (higher `ver`
    * than any of their postings — readers drop them); already-dead or
    * unknown ids are ignored, so replays and double-deletes are no-ops.
    * Stats absorb the negatives (doc count and total length), staying
    * additive. Returns the number of docs deleted. */
  def bm25Delete(spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String = "doc_id"): Long =
      graft.util.WriterLease.withLease(spark, indexDir, "bm25Delete") {
    val b = batches(spark, indexDir)
    if (!b.nonEmpty) return 0L
    // size-coalesced (see commitBatch): the tombstone write below reuses
    // this checkpoint's layout
    val targets = graft.util.SizedWrites.sizeCoalesced(
        liveDocs(spark, b, idCol,
          Some(ids.select(col(idCol)).distinct())))
      .localCheckpoint(eager = false) // the agg below materializes
    // one aggregation job for count + deleted length (was two)
    val head = targets.agg(count(lit(1)).as("n"),
      coalesce(sum(col("dl")), lit(0L)).as("s")).first()
    val n = head.getLong(0)
    if (n == 0L) return 0L
    val deletedDl = head.getLong(1)
    val next = b.next()
    val ver = next.version
    val batch = next.dataDir()
    targets.select(col(idCol), lit(ver).as("ver"))
      .write.parquet(s"${b.vd.path(batch)}/gone")
    spark.range(1).select(lit(-n).as("n_docs"),
      lit(-deletedDl).as("total_dl"), lit(ver).as("ver"))
      .coalesce(1).write.parquet(s"${b.vd.path(batch)}/stats")
    b.vd.commit(next, b.dataDirs :+ batch)
    n
  }

  /** Score the whole indexed corpus against a fixed bag of query terms —
    * identical results to [[TextAnalysis.bm25]] over the same LIVE
    * documents (the scoring core is shared code), computed without
    * touching any document text. Liveness is resolved only for the
    * matched ids (mutation is the exception, not the scan). */
  def bm25FromIndex(spark: SparkSession, indexDir: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20, idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms == queryTerms.distinct, "queryTerms must be distinct")
    val set = batches(spark, indexDir)
    require(set.nonEmpty, s"empty index at $indexDir")
    val tf0 = readTf(spark, set, idCol)
      .filter(col("token").isin(queryTerms: _*))
    // drop superseded/deleted doc-versions: join on (id, ver) against
    // the live set of exactly the matched ids
    val live = liveDocs(spark, set, idCol,
      Some(tf0.select(col(idCol)).distinct()))
    val tf = tf0.join(live.select(col(idCol), col("ver")),
      Seq(idCol, "ver"), "left_semi")
      .select(col(idCol), col("token"), col("tf"))
    val dl = live.select(col(idCol), col("dl"))
    val stats = readStats(spark, set)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_dl")).as("total_dl"))
      .select(col("n_docs"),
        (col("total_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    TextAnalysis.bm25Score(tf, dl, stats, queryTerms, k1, b, topK, idCol)
  }

  /** Batched BM25 served from the index: per-query top-`perLeg` for a
    * whole query TABLE, equal to [[Retrieval.bm25Batch]] over the same
    * LIVE documents (shared batched scoring core) — without touching any
    * document text. The batch's distinct vocabulary is collected to the
    * driver (bounded by the query table's own term count, not the
    * corpus) so the token filter pushes to the token-sorted parquet as
    * literals, exactly like the single-query path. */
  def bm25BatchFromIndex(spark: SparkSession, indexDir: String,
      queryTerms: DataFrame, perLeg: Int = 50,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", qidCol: String = "qid"): DataFrame = {
    val set = batches(spark, indexDir)
    require(set.nonEmpty, s"empty index at $indexDir")
    val termList = queryTerms.select(col("token")).distinct()
      .collect().map(_.getString(0)).toSeq
    require(termList.nonEmpty, "queryTerms must be non-empty")
    val tf0 = readTf(spark, set, idCol)
      .filter(col("token").isin(termList: _*))
    val live = liveDocs(spark, set, idCol,
      Some(tf0.select(col(idCol)).distinct()))
    val tf = tf0.join(live.select(col(idCol), col("ver")),
      Seq(idCol, "ver"), "left_semi")
      .select(col(idCol), col("token"), col("tf"))
    val dl = live.select(col(idCol), col("dl"))
    val stats = readStats(spark, set)
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_dl")).as("total_dl"))
      .select(col("n_docs"),
        (col("total_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    Retrieval.bm25BatchScore(tf, dl, stats, queryTerms, perLeg,
      k1, b, idCol, qidCol)
  }

  /** Per-doc TF-IDF top terms served from the index — identical results
    * to [[TextAnalysis.tfidfTopTerms]] over the same LIVE documents
    * (shared scoring core; every scoring input derives from the stored
    * `tf`). One index, multiple scorers: the same tokenize-once batches
    * serve BM25 retrieval and TF-IDF keyword extraction. */
  def tfidfTopTermsFromIndex(spark: SparkSession, indexDir: String,
      topK: Int = 3, idCol: String = "doc_id"): DataFrame = {
    require(topK > 0, s"topK=$topK")
    val set = batches(spark, indexDir)
    require(set.nonEmpty, s"empty index at $indexDir")
    val live = liveDocs(spark, set, idCol, None)
    val tf = readTf(spark, set, idCol)
      .join(live.select(col(idCol), col("ver")), Seq(idCol, "ver"),
        "left_semi")
      .select(col(idCol), col("token"), col("tf"))
    TextAnalysis.tfidfScore(tf, topK, idCol)
  }

  /** Number of LIVE documents the index currently covers (per-batch
    * stats rows are additive under upserts/deletes). */
  def indexedDocs(spark: SparkSession, indexDir: String): Long = {
    val b = batches(spark, indexDir)
    if (!b.nonEmpty) 0L
    else readStats(spark, b).agg(sum(col("n_docs"))).first().getLong(0)
  }

  /** Rewrite the accumulated batch dirs as ONE batch holding only the
    * LIVE doc-versions, with `tf` clustered by token (repartition +
    * sort) — superseded postings and tombstones are physically dropped,
    * listing cost resets to O(1), and term-filtered scoring scans
    * approach one partition per term. Per-row `ver`s are PRESERVED (tf
    * and dl rows must keep agreeing on the live version). The compacted
    * batch commits as a set of one by one meta rename: readers keep
    * seeing the old set until then. */
  def compactIndex(spark: SparkSession, indexDir: String,
      partitions: Int = 0, idCol: String = "doc_id"): Unit =
      graft.util.WriterLease.withLease(spark, indexDir, "compactIndex") {
    val b = batches(spark, indexDir)
    if (!b.nonEmpty) return
    // only `live` is reused twice, so only it is pinned
    val live = liveDocs(spark, b, idCol, None).localCheckpoint()
    val tf0 = readTf(spark, b, idCol)
      .join(live.select(col(idCol), col("ver")), Seq(idCol, "ver"),
        "left_semi")
    val dl0 = live.select(col(idCol), col("dl"), col("ver"), col("fp"))
    val maxVer = b.head.get.version
    val p = if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val next = b.next()
    val batch = next.dataDir("compact-")
    val out = b.vd.path(batch)
    tf0.repartition(p, col("token")).sortWithinPartitions(col("token"))
      .write.parquet(s"$out/tf")
    dl0.write.parquet(s"$out/dl")
    dl0.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl")), lit(0L)).as("total_dl"))
      .select(col("n_docs"), col("total_dl"), lit(maxVer).as("ver"))
      .coalesce(1).write.parquet(s"$out/stats")
    b.vd.commit(next, Seq(batch))
  }
}
