package graft.operators

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.functions.seeded_hash64
import graft.util.VersionedDir

/** Append-only corpus deduplication via a durable fingerprint INDEX —
  * the 100 TB shape. A training corpus is written once and then only
  * APPENDED to; re-running `Dedup.exact` over the full table for every
  * new batch pays a full corpus scan per batch. The index instead holds
  * one `(h1, h2, doc_id)` row per distinct content ever KEPT, and a new
  * batch dedups in batch-sized work:
  *
  *   1. hash each text with two independent 64-bit seeded hashes — an
  *      effectively 128-bit key (collision odds ~(N²)/2¹²⁹: negligible
  *      at any realistic corpus size, unlike a single 64-bit hash which
  *      expects collisions past ~10⁹ docs);
  *   2. pick one winner per key WITHIN the batch (min doc_id);
  *   3. LEFT ANTI join the winners against the index — novel keys only;
  *   4. append the novel winners' keys to the index.
  *
  * Per-batch cost: one shuffle of the batch plus a hash-join against the
  * index — a 24-bytes-per-distinct-doc table, typically 3–4 orders of
  * magnitude smaller than the corpus text it stands in for. The corpus
  * itself is never rescanned, and past the size threshold the index is
  * promoted to a bucketed table so even its own keys stop being
  * exchanged (see [[dedupAppend]]).
  *
  * Durable layout (every index of this module): each PART of an index
  * is a [[graft.util.VersionedDir]] `<indexDir>/<part>/`, whose head
  * names one data dir holding the part's table(s) as subdirs:
  *
  * {{{
  *   keys/      data-<v>-<uuid>/keys/     exact-dedup keys (_h1, _h2, id)
  *   gone/      data-<v>-<uuid>/gone/     exact-dedup tombstones (_h1, _h2)
  *   readded/   data-<v>-<uuid>/readded/  re-admission ledger (_h1, _h2, _id)
  *   grams/     data-<v>-<uuid>/grams/    span window hashes (h)
  *   bands/     data-<v>-<uuid>/bands/    near-dup LSH bands
  *   sigs/      data-<v>-<uuid>/sigs/     near-dup shingle sets
  *   gone_ids/  data-<v>-<uuid>/gone_ids/ near-dup / embed id tombstones
  *   ivf/       data-<v>-<uuid>/{model,radii,vecs}/  the IVF triple
  *   clusters/  data-<v>-<uuid>/{labels,remaps}/     cluster state
  * }}}
  *
  * Appends add files to the head's tables (under the writer lease).
  * Every REWRITE — compaction, bucketed promotion, the IVF refresh, the
  * labels fold, a snapshot write — writes a complete new data dir and
  * commits it with one meta rename; a dropped snapshot commits a
  * tombstone head. Readers resolve each part's head once, read only its
  * data dir and never write, so a crash at any step leaves the previous
  * version or the new one; superseded dirs age out through the deferred
  * cleanup. A part's bucketing rides in its meta: a bucketed catalog
  * table is (re-)registered over exactly the committed dir, by any
  * session that reads it.
  *
  * Single-writer contract (like the shard writers in
  * [[graft.sources.Layouts]]): parquet append is not transactional, so
  * concurrent `dedupAppend` calls against one index dir race — serialize
  * batches per index (the writer lease enforces it). Crash between the
  * returned result's materialization and a re-run re-appends the same
  * keys; duplicate index rows are harmless for correctness (anti join)
  * and can be compacted away with `Dedup.exact` semantics on (h1, h2).
  */
object IncrementalDedup {

  // fixed, documented hash seeds — two independent draws of the same
  // seeded xxhash-style mix used across the sampling/fingerprint ops
  private val Seed1 = 0x67726166L // "graf"
  private val Seed2 = 0x74696478L // "tidx"

  /** batch → one row per distinct key: (_h1, _h2, <idCol>=min id) */
  private[graft] def winners(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    docs.select(
        seeded_hash64(col(textCol), lit(Seed1)).as("_h1"),
        seeded_hash64(col(textCol), lit(Seed2)).as("_h2"),
        col(idCol))
      .groupBy(col("_h1"), col("_h2"))
      .agg(min(col(idCol)).as(idCol))

  /** Initialize the index from an existing corpus (one full exact-dedup
    * pass — the LAST full scan the corpus ever needs). Returns the
    * corpus rows that survive (the canonical min-id keeper per content).
    * A re-init commits a fresh key table over whatever the index held. */
  def indexInit(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    graft.util.WriterLease.withLease(spark, indexDir, "indexInit") {
      dropSnap(spark, indexDir, "gone") // a re-init claims the tombstones too
      dropSnap(spark, indexDir, "readded")
      val w = winners(docs, idCol, textCol)
      // size-coalesced (SizedWrites): the winners groupBy fans the write
      // into one near-empty file per shuffle partition otherwise
      rewrite(spark, part(spark, indexDir, "keys"), "keys",
        graft.util.SizedWrites.sizeCoalesced(w), Nil, 0)
      docs.join(w.select(col(idCol)), Seq(idCol), "left_semi")
    }
  }

  /** Dedup one append batch against the index: returns the batch rows
    * that are novel (first occurrence of their content ACROSS the whole
    * corpus history, min-id winner within the batch) and appends their
    * keys to the index. The novel set is materialized (localCheckpoint)
    * BEFORE the index append — the returned plan must not lazily re-read
    * an index that already contains the keys it is anti-joining against.
    *
    * Layout follows [[nearDedupAppend]]'s size gate: the key table stays
    * plain parquet while small, and the batch that finds it past
    * `bucketReadThresholdBytes` promotes it once into a catalog table
    * BUCKETED on (_h1, _h2) — the anti-join's keys — so at scale the
    * per-batch anti join reads the index pre-partitioned and only the
    * batch's winners shuffle. */
  def dedupAppend(spark: SparkSession, indexDir: String, batch: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      indexBuckets: Int = 32,
      bucketReadThresholdBytes: Long = 256L << 20): DataFrame =
      graft.util.WriterLease.withLease(spark, indexDir, "dedupAppend") {
    val keys = promoted(spark, part(spark, indexDir, "keys"), "keys",
      Seq("_h1", "_h2"), indexBuckets, bucketReadThresholdBytes)
    val w = winners(batch, idCol, textCol)
    // size-coalesced BEFORE the checkpoint: the checkpoint pins the
    // physical layout, so the downstream index append writes one file
    // per ~advisory-size instead of one per shuffle partition
    val novel = graft.util.SizedWrites.sizeCoalesced(
      keysNovel(spark, indexDir, w)).localCheckpoint()
    // a re-added gone content is novel again — clear its tombstone so a
    // THIRD send dedups against this new copy. The cleared keys' NEW
    // keepers are recorded in the re-admission ledger FIRST (so a
    // replayed old removal can never re-tombstone through the stale
    // pre-removal index row), then the gone rewrite lands, then the
    // index append: a crash anywhere between the steps fails
    // conservative (the old index row resurrects and the replayed batch
    // drops the copy — a false drop, the module's usual crash direction
    // — never a duplicate admitted; a replayed batch re-records the
    // same deterministic min-id winner).
    goneKeys(spark, indexDir).foreach { g =>
      val cleared = novel.join(g, Seq("_h1", "_h2"), "left_semi")
        .select(col("_h1"), col("_h2"),
          col(idCol).cast("long").as("_id")).localCheckpoint()
      if (cleared.count() > 0) {
        val ra = readdedKeys(spark, indexDir).fold(cleared)(r =>
          r.join(cleared.select(col("_h1"), col("_h2")),
            Seq("_h1", "_h2"), "left_anti").unionByName(cleared))
        writeSnap(spark, indexDir, "readded", ra, Seq("_h1", "_h2", "_id"))
        writeSnap(spark, indexDir, "gone",
          g.join(cleared.select(col("_h1"), col("_h2")),
            Seq("_h1", "_h2"), "left_anti"), Seq("_h1", "_h2"))
      }
    }
    appendPart(spark, keys, "keys", novel)
    batch.join(novel.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** The per-batch novelty anti-join against the key index. In bucketed
    * mode the index scan arrives pre-partitioned on (_h1, _h2) — the
    * join keys — so only the batch's winners shuffle (plan-pinned in
    * IncrementalNearDedupSpec). */
  private[graft] def keysNovel(spark: SparkSession, indexDir: String,
      w: DataFrame): DataFrame = {
    val idx = readPart(spark, part(spark, indexDir, "keys"), "keys")
      .select(col("_h1"), col("_h2"))
    // tombstoned contents ([[dedupRemove]]) are not in the corpus anymore
    // — subtract them so a re-send is novel again. Broadcast by
    // construction (gone is bounded by outstanding removals), so the
    // bucketed index scan stays exchange-free; the common no-removals
    // case skips the node entirely.
    val live = goneKeys(spark, indexDir).fold(idx)(g =>
      idx.join(broadcast(g), Seq("_h1", "_h2"), "left_anti"))
    w.join(live, Seq("_h1", "_h2"), "left_anti")
  }

  /** Number of distinct LIVE contents the index currently covers
    * (crash-replay duplicate rows and [[dedupRemove]] tombstones both
    * excluded). */
  def indexSize(spark: SparkSession, indexDir: String): Long = {
    val keys = spark.read.parquet(part(spark, indexDir, "keys").path("keys"))
      .select(col("_h1"), col("_h2")).distinct()
    goneKeys(spark, indexDir)
      .fold(keys)(g => keys.join(broadcast(g), Seq("_h1", "_h2"), "left_anti"))
      .count()
  }

  // ------------------------------------------------ content REMOVAL

  private val goneSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_h1",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_h2",
      org.apache.spark.sql.types.LongType)))

  // snapshots: small tables rewritten whole, one version per write; a
  // dropped snapshot is a tombstone head. `gone` holds the exact-key
  // tombstones, bounded by OUTSTANDING removals (re-adds clear their
  // rows; compaction resets it), so it stays broadcast-sized.

  private def readSnap(spark: SparkSession, indexDir: String, name: String,
      schema: StructType): Option[DataFrame] = {
    val p = part(spark, indexDir, name)
    p.head.map(_ => spark.read.schema(schema).parquet(p.path(name)))
  }

  private def writeSnap(spark: SparkSession, indexDir: String, name: String,
      df: DataFrame, cols: Seq[String]): Unit =
    // size-coalesced: a snapshot is tombstone-sized, not corpus-sized —
    // without it the distinct's shuffle fans it into per-partition files
    rewrite(spark, part(spark, indexDir, name), name,
      graft.util.SizedWrites.sizeCoalesced(
        df.select(cols.map(col): _*).distinct()), Nil, 0)

  private def dropSnap(spark: SparkSession, indexDir: String,
      name: String): Unit = {
    val p = part(spark, indexDir, name)
    if (p.head.isDefined) {
      val next = p.next()
      p.vd.commit(next, Seq(next.tombstone))
    }
  }

  /** the tombstoned keys, None when no snapshot exists (the common,
    * zero-overhead case: [[keysNovel]] skips the subtraction entirely) */
  private def goneKeys(spark: SparkSession,
      indexDir: String): Option[DataFrame] =
    readSnap(spark, indexDir, "gone", goneSchema)

  /** RE-ADMISSION keeper ledger `readded` (_h1, _h2, _id):
    * when a batch re-adds a previously-removed content, the cleared
    * key's NEW keeper is recorded here. [[dedupRemove]] then only
    * accepts the recorded keeper for such keys — the STALE pre-removal
    * index row (which is never physically deleted on the hot path)
    * can no longer satisfy the keeper match, so a crash-replayed old
    * removal batch is a true no-op instead of re-tombstoning live
    * content and re-admitting its next copy as a duplicate. Bounded by
    * re-admissions since the last compaction, which drops the stale
    * rows physically and clears the ledger. */
  private val readdedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("_h1",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_h2",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_id",
      org.apache.spark.sql.types.LongType)))

  private def readdedKeys(spark: SparkSession,
      indexDir: String): Option[DataFrame] =
    readSnap(spark, indexDir, "readded", readdedSchema)

  // ---- id-grain tombstones (near-dup / embed indexes, which key by id)

  private val goneIdsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.LongType)))

  private def goneIds(spark: SparkSession,
      indexDir: String): Option[DataFrame] =
    readSnap(spark, indexDir, "gone_ids", goneIdsSchema)

  /** REMOVE contents from the index — the mutation face of
    * [[dedupAppend]] (editorial takedown / erasure: a content removed
    * from the corpus must be NOVEL again if it is ever re-sent, not
    * silently dropped as a duplicate of a doc that no longer exists).
    *
    * O(removed + gone), never O(index): the matched keys land in the
    * small versioned gone snapshot that [[keysNovel]] subtracts from the
    * index scan (broadcast-sized — the bucketed exchange-free plan keeps
    * its shape), and a batch that re-adds a gone content clears its row,
    * so the snapshot is bounded by OUTSTANDING removals.
    * [[compactIndex]] drops tombstoned keys physically and resets it.
    *
    * Self-guarding semantics: only keys whose recorded KEEPER id is
    * among the removed rows tombstone — removing a doc whose content
    * still lives in the corpus under a different keeper is a no-op, and
    * so are replays / double-removes. Returns the contents tombstoned. */
  def dedupRemove(spark: SparkSession, indexDir: String, removed: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): Long =
      graft.util.WriterLease.withLease(spark, indexDir, "dedupRemove") {
    val idx = readPart(spark, part(spark, indexDir, "keys"), "keys")
    val gone0 = goneKeys(spark, indexDir)
    val ra0 = readdedKeys(spark, indexDir)
    val keyed = removed.select(
        seeded_hash64(col(textCol), lit(Seed1)).as("_h1"),
        seeded_hash64(col(textCol), lit(Seed2)).as("_h2"),
        col(idCol))
      .join(idx, Seq("_h1", "_h2", idCol), "left_semi")
    // keeper validity: a key in the RE-ADMISSION ledger accepts only the
    // recorded (current) keeper — its stale pre-removal index row must
    // not satisfy the match, or a replayed old removal would
    // re-tombstone live content; keys without a ledger record keep the
    // plain index-row match
    val matched = (ra0 match {
      case None => keyed
      case Some(ra) =>
        val guarded = keyed.join(
          broadcast(ra.withColumnRenamed("_id", idCol)),
          Seq("_h1", "_h2", idCol), "left_semi")
        val unguarded = keyed.join(
          broadcast(ra.select(col("_h1"), col("_h2"))),
          Seq("_h1", "_h2"), "left_anti")
        guarded.unionByName(unguarded)
    }).select(col("_h1"), col("_h2")).distinct()
    val fresh = gone0.fold(matched)(g =>
      matched.join(g, Seq("_h1", "_h2"), "left_anti")).localCheckpoint()
    val n = fresh.count()
    if (n == 0L) return 0L
    writeSnap(spark, indexDir, "gone",
      gone0.fold(fresh)(g => g.unionByName(fresh)), Seq("_h1", "_h2"))
    // a removed re-added key leaves the ledger (it is dead again; a
    // future re-admission re-records) — best-effort after the gone
    // commit, self-healing if skipped by a crash
    ra0.foreach { r =>
      val rest = r.join(fresh, Seq("_h1", "_h2"), "left_anti")
        .localCheckpoint()
      if (rest.count() < r.count())
        writeSnap(spark, indexDir, "readded", rest, Seq("_h1", "_h2", "_id"))
    }
    n
  }

  // ------------------------------------------------ incremental NEAR-dup

  /** Append-only NEAR-duplicate removal via a durable MinHash-LSH index —
    * the fuzzy sibling of [[dedupAppend]]. The index holds, for every
    * document ever SEEN (kept or dropped), its exploded LSH band hashes
    * (`bands/`: band_idx, band_hash, id) and its distinct shingle set
    * (`sigs/`: id, sh with shingles xxhash64'd to int64 — the
    * [[Dedup.ngramJaccardPairs]] trick: Jaccard over hashed sets equals
    * Jaccard over the strings up to a ~|union|²/2⁶⁴ per-pair collision
    * chance, and the index shrinks ~8× vs raw shingle strings). Banding
    * is still computed from the STRING shingles, so recall is identical
    * to [[Dedup.minhashPairs]]. A new batch then near-dedups in
    * batch-sized work:
    *
    *   1. shingle + band-hash the batch (the [[Dedup.minhashPairs]]
    *      signature pipeline, identical banding → identical recall);
    *   2. WITHIN-batch: bucket self-join, exact-Jaccard verify — a doc
    *      is dropped if a smaller-id batch doc matches it;
    *   3. ACROSS history: batch bands equi-join the index bands, exact
    *      Jaccard with the id_a side read from the stored index sets and
    *      the id_b side from the batch — a doc is dropped if ANY earlier
    *      doc matches it (drop-if-any-earlier semantics: the dropping
    *      doc need not itself have been kept, which is what lets the
    *      index stay append-only with no kept-status updates; slightly
    *      more aggressive than greedy cluster-first-wins on transitive
    *      chains A~B~C with A≁C);
    *   4. append the batch's bands + shingle sets to the index, keep
    *      decisions checkpointed BEFORE the append (read-then-append
    *      hazard, as in [[dedupAppend]]).
    *
    * Both index tables are BUCKETED external tables
    * ([[graft.sources.Layouts.writeBucketed]] discipline): `bands/` on
    * its join keys (band_idx, band_hash), `sigs/` on the verify key
    * (id). Past `bucketReadThresholdBytes` of on-disk index, the
    * per-batch joins read them through the bucketed tables, so the
    * index side is pre-partitioned and only the batch side shuffles —
    * the index is never exchanged, which is what survives a 100×
    * corpus. Below the threshold the batch reads the same files as
    * plain parquet and runs one unioned verify pipeline instead — at
    * toy index sizes the co-location buys nothing and the extra join
    * stages are pure fixed overhead (the same size-gated strategy
    * choice [[Dedup.clusters]] makes; both paths provably drop the
    * same ids). (Catalog table names are content-derived from the
    * index path; any session re-registers them over the committed
    * dirs.)
    *
    * Documents too short to shingle are always kept and never indexed.
    * Per-batch cost: the batch's own LSH pass plus equi-joins against
    * index tables that grow with corpus DISTINCT content, not corpus
    * bytes; the corpus text is never rescanned. Single-writer contract
    * as [[dedupAppend]]. */
  def nearDedupAppend(spark: SparkSession, indexDir: String, batch: DataFrame,
      threshold: Double = 0.5, n: Int = 3, k: Int = 64, bands: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      indexBuckets: Int = 32,
      bucketReadThresholdBytes: Long = 256L << 20): DataFrame =
      graft.util.WriterLease.withLease(spark, indexDir, "nearDedupAppend") {
    val bands0 = part(spark, indexDir, "bands")
    val sigs0 = part(spark, indexDir, "sigs")
    // an index exists only once it holds FILES: an all-short first batch
    // appends nothing (below), leaving at most an empty dir
    val haveIndex = bands0.bytes("bands") > 0 && sigs0.head.isDefined

    // tombstoned ids ([[nearDedupRemove]]): their index rows stop
    // suppressing (subtracted broadcast-side below), and batch rows
    // CARRYING a tombstoned id are treated as already-seen — dropped
    // from the output and never re-indexed, which keeps crash-replayed
    // old batches no-ops (ids are immutable handles: restore content by
    // re-ingesting under a fresh id)
    val gone = goneIds(spark, indexDir)
    val batchLive = gone.fold(batch)(g => batch.join(
      broadcast(g.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti"))

    val (shHashed, bnd) =
      batchSignatures(batchLive, n, k, bands, idCol, textCol)

    // within-batch: smaller id wins, candidates from shared buckets
    val candWithin = bnd.as("x").join(bnd.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()

    // SIZE-GATED layout (the broadcast-join discipline): while the index
    // is SMALL it stays plain parquet — appends are bare file writes and
    // each batch runs ONE unioned candidate set + ONE verify pipeline
    // (fewest stages; at toy sizes every extra join/DDL is pure fixed
    // overhead). The batch that finds the index past
    // `bucketReadThresholdBytes` PROMOTES it once (a rewrite into the
    // bucketed layout, committed per part); from then on candidate
    // and verify joins read the index pre-partitioned on their keys and
    // only the batch side shuffles — the shape that survives a 100×
    // corpus (plan-pinned in IncrementalNearDedupSpec). Mode is carried
    // by the parts' heads: a part promoted before a crash stays so, and
    // the next batch promotes the other.
    val bucketedMode = haveIndex && (bands0.bucketed || sigs0.bucketed ||
      bands0.bytes("bands") + sigs0.bytes("sigs") >= bucketReadThresholdBytes)
    val bandsP = if (bucketedMode) promoted(spark, bands0, "bands",
      Seq("band_idx", "band_hash"), indexBuckets, 0L) else bands0
    val sigsP = if (bucketedMode)
      promoted(spark, sigs0, "sigs", Seq("id"), indexBuckets, 0L) else sigs0

    val dropped = if (!haveIndex) {
      Dedup.verifyJaccardPairs(candWithin, shHashed, threshold)
        .select(col("id_b").as("id")).distinct()
    } else if (!bucketedMode) {
      val idxBands0 = readPart(spark, bandsP, "bands")
      val idxBands = gone.fold(idxBands0)(g =>
        idxBands0.join(broadcast(g), Seq("id"), "left_anti"))
      val candCross = idxBands.as("x").join(bnd.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_hash") === col("y.band_hash"))
        .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        .distinct()
      val shAll = shHashed.unionByName(
        requireHashedSigs(readPart(spark, sigsP, "sigs"), sigsP.path("sigs")))
      Dedup.verifyJaccardPairs(candWithin.unionByName(candCross), shAll,
          threshold)
        .select(col("id_b").as("id")).distinct()
    } else {
      val droppedWithin = Dedup.verifyJaccardPairs(candWithin, shHashed,
          threshold)
        .select(col("id_b").as("id"))
      val droppedCross = crossDropped(spark, indexDir, bnd, shHashed,
        threshold, gone)
      droppedWithin.unionByName(droppedCross).distinct()
    }

    val kept = batchLive.join(
        dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .localCheckpoint() // decided BEFORE the index grows below
    // an all-short batch has nothing to index: a write of an empty frame
    // emits no parquet files, which a later plain read cannot infer a
    // schema from — skip it (sh is checkpointed, so the emptiness probe
    // reads block metadata, not the pipeline)
    if (!shHashed.isEmpty) {
      appendPart(spark, bandsP, "bands", bnd)
      appendPart(spark, sigsP, "sigs", shHashed)
    }
    kept
  }

  /** total bytes of the parquet files under an index dir */
  private def indexBytes(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Long = {
    val p = new Path(dir)
    if (!fs.exists(p)) return 0L
    var sum = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) sum += f.getLen
    }
    sum
  }

  /** One batch's signature tables, both materialized: (sh = (id,
    * sh: array<long> FNV-base-hashed shingle set), bnd = (band_idx,
    * band_hash, id) exploded LSH bands). Both come from ONE native pass
    * per document (graft.functions.ShingleSketch): the band hashes are
    * bit-identical to the string pipeline — identical recall to
    * [[Dedup.minhashPairs]] — and the stored set hashes are the very
    * base values the minhash ladder seeds from, so no string shingle
    * array is ever materialized. */
  private[graft] def batchSignatures(batch: DataFrame, n: Int, k: Int,
      bands: Int, idCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    val sk = batch.select(col(idCol).as("id"),
        graft.functions.functions.shingle_sketch(
          col(textCol), n, k, bands).as("sk"))
      .filter(size(col("sk.sh")) > 0)
      .localCheckpoint()
    // bnd derives from the checkpointed sketch by a bare posexplode —
    // re-evaluating that per consumer is cheaper than a second
    // materialization job per batch
    val bnd = sk.select(col("id"),
        posexplode(col("sk.bands")).as(Seq("band_idx", "band_hash")))
      .select(col("band_idx"), col("band_hash"), col("id"))
    (sk.select(col("id"), col("sk.sh").as("sh")), bnd)
  }

  /** Batch ids dropped by some doc in the index history: LSH candidate
    * equi-join against the bucketed `bands/` table (co-located on
    * (band_idx, band_hash)), exact-Jaccard verify with the id_a side
    * read from the bucketed `sigs/` table (co-located on id) — the
    * index side of both joins is exchange-free (pinned in
    * IncrementalNearDedupSpec). */
  private[graft] def crossDropped(spark: SparkSession, indexDir: String,
      bnd: DataFrame, shHashed: DataFrame, threshold: Double,
      gone: Option[DataFrame] = None): DataFrame = {
    val idxBands0 = readPart(spark, part(spark, indexDir, "bands"), "bands")
    // tombstoned ids subtract via a broadcast anti-join: the bucketed
    // band scan stays exchange-free
    val idxBands = gone.fold(idxBands0)(g =>
      idxBands0.join(broadcast(g), Seq("id"), "left_anti"))
    val sigs = part(spark, indexDir, "sigs")
    val idxSigs = requireHashedSigs(readPart(spark, sigs, "sigs"),
      sigs.path("sigs"))
    val candCross = idxBands.as("x").join(bnd.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_hash") === col("y.band_hash"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    Dedup.verifyJaccardPairsAB(candCross, idxSigs, shHashed, threshold)
      .select(col("id_b").as("id"))
  }

  /** REMOVE documents (by id) from the near-dup index — the mutation
    * face of [[nearDedupAppend]] (editorial takedown / erasure: a
    * removed document must stop suppressing future near-duplicates of
    * itself). O(removed + gone), never an index rewrite: matched ids
    * land in a small versioned `gone_ids` snapshot that every index-side
    * read subtracts via a forced broadcast (the bucketed exchange-free
    * plan keeps its shape); [[compactIndex]] drops their rows physically
    * and resets the snapshot.
    *
    * Ids are IMMUTABLE handles here: removal is permanent for the id —
    * restore content by re-ingesting under a FRESH id (sigs are per-id
    * shingle sets, so resurrecting an id could mix two content versions
    * into one set and corrupt every Jaccard it appears in). Batch rows
    * carrying a tombstoned id are treated as already-seen: dropped from
    * the output, never re-indexed — a crash-replayed old batch stays a
    * no-op. Unknown / already-removed ids no-op. Returns the number of
    * ids tombstoned. */
  def nearDedupRemove(spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String = "doc_id"): Long =
      graft.util.WriterLease.withLease(spark, indexDir, "nearDedupRemove") {
    val sigs = part(spark, indexDir, "sigs")
    if (sigs.bytes("sigs") == 0L) return 0L
    val idx = readPart(spark, sigs, "sigs")
    val gone0 = goneIds(spark, indexDir)
    val tgt = ids.select(col(idCol).cast("long").as("id")).distinct()
      .join(idx.select(col("id")), Seq("id"), "left_semi")
    val fresh = gone0.fold(tgt)(g =>
      tgt.join(g, Seq("id"), "left_anti")).localCheckpoint()
    val n = fresh.count()
    if (n == 0L) return 0L
    writeSnap(spark, indexDir, "gone_ids",
      gone0.fold(fresh)(g => g.unionByName(fresh)), Seq("id"))
    n
  }

  /** REMOVE vectors (by id) from the embedding near-dup index — the
    * mutation face of [[embedDedupAppend]], same contract as
    * [[nearDedupRemove]]: O(removed + gone) versioned `gone_ids`
    * tombstones, broadcast-subtracted from the vecs scan (exchange-free
    * shape preserved), permanent per id, batch rows carrying a
    * tombstoned id treated as already-seen. Stored radii stay put:
    * they are UPPER bounds per cell, so pruning remains lossless after
    * a removal — only slightly less tight until [[compactIndex]] drops
    * the rows physically (its opt-in model refresh recomputes radii
    * from the surviving vectors). */
  def embedDedupRemove(spark: SparkSession, indexDir: String, ids: DataFrame,
      idCol: String = "vec_id"): Long =
      graft.util.WriterLease.withLease(spark, indexDir, "embedDedupRemove") {
    val ivf = part(spark, indexDir, "ivf")
    if (ivf.bytes("vecs") == 0L) return 0L
    val idx = readPart(spark, ivf, "vecs")
    val gone0 = goneIds(spark, indexDir)
    val tgt = ids.select(col(idCol).cast("long").as("id")).distinct()
      .join(idx.select(col("id")), Seq("id"), "left_semi")
    val fresh = gone0.fold(tgt)(g =>
      tgt.join(g, Seq("id"), "left_anti")).localCheckpoint()
    val n = fresh.count()
    if (n == 0L) return 0L
    writeSnap(spark, indexDir, "gone_ids",
      gone0.fold(fresh)(g => g.unionByName(fresh)), Seq("id"))
    n
  }

  /** Index format guard: format v2 stores `sh` xxhash64'd as
    * array<long>; the original format stored raw shingle strings. With
    * a v1 index on disk, unionByName / array_intersect would type-coerce
    * long vs string to array<string>, every cross-history Jaccard would
    * be 0, and duplicates against pre-upgrade history would silently
    * PASS — fail fast instead (r8 ADVICE). The element type doubles as
    * the version stamp: it is the one thing the old files cannot fake. */
  private def requireHashedSigs(df: DataFrame, where: String): DataFrame =
    df.schema("sh").dataType match {
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, _) => df
      case other => throw new IllegalStateException(
        s"$where stores sh as $other — a pre-v2 (string-shingle) near-dup " +
          "index; rebuild the index (or re-hash sigs/ with xxhash64) " +
          "before appending to it")
    }

  /** Deterministic catalog name for a bucketed index table at `dir` —
    * content-derived so any session over the same path re-registers the
    * identical table (Spark's bucketing contract puts bucket metadata in
    * the catalog, not the files). */
  private[graft] def indexTableName(indexDir: String, part: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(indexDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map(b => f"$b%02x").mkString
    s"graft_ndidx_${part}_$h"
  }

  // ------------------------------------------------ durable index PARTS

  /** One part of an index (see the layout in the object doc) with its
    * head resolved once: `raw` is the newest version, `head` the live one
    * (None when the part was never committed or its head is a
    * tombstone). */
  private final case class Part(indexDir: String, vd: VersionedDir,
      raw: Option[VersionedDir.Head]) {
    val head: Option[VersionedDir.Head] = raw.filterNot(_.tombstone)
    def bucketed: Boolean = head.exists(_.bucketBy.nonEmpty)

    /** the catalog name of the bucketed table `table` */
    def catalogName(table: String): String = indexTableName(indexDir, table)

    /** the head's data dir */
    def dir: String = head match {
      case Some(h) => vd.path(h.dataDirs.head)
      case None => throw new IllegalStateException(
        s"no committed version at ${vd.dir}")
    }

    /** the head's table `table` */
    def path(table: String): String = s"$dir/$table"

    /** bytes of the head's table `table`, 0 when there is none */
    def bytes(table: String): Long =
      if (head.isEmpty) 0L else indexBytes(vd.fs, path(table))

    def next(): vd.Next = vd.next(raw.map(_.version))

    /** reap what the head superseded once the grace window has passed
      * ([[VersionedDir.cleanup]]): a rewrite's commit runs it, and so does
      * every append, so an append-only part does not keep its pre-rewrite
      * copy until its next rewrite */
    def reap(): Unit = try vd.cleanup() catch { case _: Exception => () }

    /** the part after committing `h` */
    def committed(h: VersionedDir.Head): Part = Part(indexDir, vd, Some(h))
  }

  private def part(spark: SparkSession, indexDir: String, name: String): Part = {
    val vd = VersionedDir(new Path(indexDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(indexDir, name))
    Part(indexDir, vd, vd.head)
  }

  /** The head's table `table` of part `p`: through its catalog table
    * when the head is bucketed — registered over exactly the committed
    * dir, so a table another session (or a crash) left over an older
    * version is replaced — else as plain parquet. */
  private def readPart(spark: SparkSession, p: Part, table: String): DataFrame =
    p.head match {
      case Some(h) if h.bucketBy.nonEmpty =>
        val path = p.path(table)
        val name = p.catalogName(table)
        registerBucketed(spark, name, path, h,
          spark.read.parquet(path).schema)
        spark.table(name)
      case _ => spark.read.parquet(p.path(table))
    }

  /** (Re-)register the external bucketed table `name` over `path` unless
    * it already points there (data dirs are UUID-named, so the dir name
    * identifies the version). Spark's bucketing contract puts the bucket
    * spec in the catalog, not the files; the head carries it. */
  private def registerBucketed(spark: SparkSession, name: String, path: String,
      h: VersionedDir.Head, schema: => StructType): Unit = {
    val at = try Some(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name)).location.getPath)
      catch { case _: org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException => None }
    val rel = new Path(path).toUri.getPath.stripSuffix("/")
    if (!at.exists(_.stripSuffix("/").endsWith(rel))) {
      val cols = h.bucketBy.mkString(", ")
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(s"CREATE TABLE $name (${schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO ${h.buckets} BUCKETS " +
        s"LOCATION '$path'")
    }
  }

  /** Write `df` as the table at `path` — bucketed on `bucketBy` into
    * `buckets` buckets when nonEmpty (bucketed writes need a catalog
    * table: a transient one, dropped after; the files stay) — and return
    * the schema a catalog table over it has. The repartition on the
    * bucket keys makes each task write exactly one bucket's file. */
  private def writeTable(spark: SparkSession, df: DataFrame, path: String,
      name: String, bucketBy: Seq[String], buckets: Int): StructType = {
    if (bucketBy.isEmpty) df.write.parquet(path)
    else {
      val tmp = name + "_tmp"
      spark.sql(s"DROP TABLE IF EXISTS $tmp")
      df.repartition(buckets, bucketBy.map(col): _*)
        .write.format("parquet").option("path", path)
        .bucketBy(buckets, bucketBy.head, bucketBy.tail: _*)
        .sortBy(bucketBy.head, bucketBy.tail: _*)
        .saveAsTable(tmp)
      spark.sql(s"DROP TABLE $tmp")
    }
    StructType(df.schema.map(_.copy(nullable = true)))
  }

  /** Commit a COMPLETE new version of part `p`: `write` fills the new
    * data dir (given its path; it returns the schema of the table
    * `table`), one meta rename commits it with the bucketing, and a
    * bucketed `table` is registered over it. */
  private def commitVersion(spark: SparkSession, p: Part, table: String,
      bucketBy: Seq[String], buckets: Int)(
      write: String => StructType): Part = {
    val next = p.next()
    val dataDir = next.dataDir()
    val schema = write(p.vd.path(dataDir))
    val q = p.committed(p.vd.commit(next, Seq(dataDir), bucketBy, buckets))
    if (bucketBy.nonEmpty)
      registerBucketed(spark, p.catalogName(table), q.path(table), q.head.get,
        schema)
    q
  }

  /** Rewrite part `p` as a new version whose table `table` is `df`
    * (bucketed per `bucketBy`/`buckets`), carrying the head's other
    * tables `carry` over by file copy. */
  private def rewrite(spark: SparkSession, p: Part, table: String,
      df: DataFrame, bucketBy: Seq[String], buckets: Int,
      carry: Seq[String] = Nil): Part =
    commitVersion(spark, p, table, bucketBy, buckets) { dir =>
      carry.foreach(t => FileUtil.copy(p.vd.fs, new Path(p.path(t)),
        p.vd.fs, new Path(dir, t), false,
        spark.sparkContext.hadoopConfiguration))
      writeTable(spark, df, s"$dir/$table", p.catalogName(table), bucketBy,
        buckets)
    }

  /** One-time layout promotion at the size gate: `p` with its table
    * `table` rewritten BUCKETED when it is still plain and holds at least
    * `threshold` bytes (the other tables carried over), else `p`. */
  private def promoted(spark: SparkSession, p: Part, table: String,
      bucketBy: Seq[String], buckets: Int, threshold: Long,
      carry: Seq[String] = Nil): Part =
    if (p.head.isEmpty || p.bucketed || p.bytes(table) < threshold) p
    else rewrite(spark, p, table, readPart(spark, p, table), bucketBy,
      buckets, carry)

  /** Append `df` to the head's table `table` (bucketed through the
    * catalog table when the head is); a part with no version yet commits
    * its first one with `df` as the table. */
  private def appendPart(spark: SparkSession, p: Part, table: String,
      df: DataFrame): Unit = p.head match {
    case Some(h) if h.bucketBy.nonEmpty =>
      readPart(spark, p, table) // (re-)registers the table over the head
      appendBucketed(spark, df, p.path(table), p.catalogName(table),
        h.bucketBy, h.buckets)
      p.reap()
    case Some(_) =>
      df.write.mode("append").parquet(p.path(table))
      p.reap()
    case None => rewrite(spark, p, table, df, Nil, 0)
  }

  /** Append one batch's rows to a bucketed index table. The pre-write
    * repartition uses the SAME
    * hash keys and partition count as the bucket spec, so each task
    * holds exactly one bucket's rows and writes exactly one file —
    * without it, bucketed writes emit one file per (task × bucket
    * present), and the per-batch small-file count compounds into the
    * next batch's read.
    *
    * `spark` is the CANONICAL session future readers resolve the table
    * through: saveAsTable only refreshes the relation cache of the
    * session it writes under, and `df` may ride an isolated-conf CLONE
    * (SizedWrites) whose refresh the canonical session never sees — a
    * later batch would then read a stale (pre-append) file listing and
    * silently under-detect duplicates. Refresh the canonical cache
    * explicitly after every append. */
  private def appendBucketed(spark: SparkSession, df: DataFrame, dir: String,
      table: String, bucketCols: Seq[String], buckets: Int): Unit = {
    df.repartition(buckets, bucketCols.map(col): _*)
      .write.mode("append").format("parquet").option("path", dir)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
    spark.catalog.refreshTable(table)
  }

  // ------------------------------------------ incremental EMBEDDING dedup

  /** Append-only EXACT embedding near-duplicate removal via a durable
    * IVF-cell-blocked index — the vector sibling of [[nearDedupAppend]],
    * built on [[graft.operators.Similarity.exactPairs]]' lossless
    * centroid-angle pruning rather than LSH banding (banding needs a
    * similarity gap for recall; the cell bound is complete at ANY
    * threshold). The index holds:
    *
    *   - `model/`: the spherical-k-means centroids fit ONCE on the
    *     FIRST batch and FROZEN — append-only indexes cannot re-fit (a
    *     drifted model would re-assign history), and the pruning bound
    *     is lossless under any fixed centroid set, so model quality
    *     only affects pruning efficiency, never recall;
    *   - `radii/`: per-cell max member-to-centroid angle over every
    *     vector ever seen — radii only GROW, so each batch adds its
    *     merged map, drops the file it supersedes, and a read takes the
    *     max per cell; the
    *     triangle-inequality bound stays valid as cells accumulate
    *     members beyond the fit sample;
    *   - `vecs/`: (id, e, cell) for every vector ever seen.
    *
    * The three are ONE version of the `ivf` part: the first batch
    * commits them together, later batches append to the head's radii
    * and vecs, and every rewrite (promotion, compaction, the model
    * refresh) commits a new complete triple.
    *
    * A batch assigns against the frozen centroids, prunes cell pairs
    * with the UPDATED radii, verifies exact cosine inside the cell-pair
    * equi-join (never an all-pairs product), and drops a vector if ANY
    * earlier vector matches it (drop-if-any-earlier, as the whole
    * family). Vectors the assigner cannot place (null/zero-norm) are
    * always kept and never indexed.
    *
    * Layout follows [[nearDedupAppend]]'s size gate: `vecs/` is plain
    * parquet while small and promotes once past
    * `bucketReadThresholdBytes` into a catalog table BUCKETED by `cell`
    * — the cross-history join's key — so at scale the wide embedding
    * payload is never exchanged; only the batch side shuffles.
    * Single-writer contract as [[dedupAppend]]. */
  def embedDedupAppend(spark: SparkSession, indexDir: String, batch: DataFrame,
      threshold: Double = 0.4, cells: Int = 32, sampleN: Int = 1024,
      iters: Int = 6, seed: Long = 42L,
      idCol: String = "vec_id", embCol: String = "embedding",
      indexBuckets: Int = 32,
      bucketReadThresholdBytes: Long = 256L << 20): DataFrame =
      graft.util.WriterLease.withLease(spark, indexDir, "embedDedupAppend") {
    import graft.functions.functions.cosine_similarity
    val ivf0 = part(spark, indexDir, "ivf")
    val haveIndex = ivf0.bytes("vecs") > 0

    // tombstoned ids ([[embedDedupRemove]]): index rows stop suppressing,
    // batch rows carrying a tombstoned id are already-seen (dropped,
    // never re-indexed) — replayed old batches stay no-ops
    val gone = goneIds(spark, indexDir)
    val batchLive = gone.fold(batch)(g => batch.join(
      broadcast(g.withColumnRenamed("id", idCol)), Seq(idCol), "left_anti"))

    val model =
      if (haveIndex) loadCentroids(spark, ivf0.path("model"))
      else IVF.fit(batchLive, cells, sampleN, iters, seed, idCol, embCol)
    val k = model.centroids.length

    // lazy: the batchRadii collect right below is the materializing
    // action (it runs before any index write, so the pinned-input
    // ordering contract is unchanged) — the former eager checkpoint
    // paid one extra job per batch for the same blocks
    val assigned = IVF.index(batchLive, model, embCol)
      .select(col(idCol).as("id"), col(embCol).as("e"),
        col("ivf_cell").as("cell"))
      .localCheckpoint(eager = false)
    val placeable = assigned.filter(col("cell").isNotNull)

    def clamp(x: Double): Double = math.max(-1.0, math.min(1.0, x))
    val centsLit = array(model.centroids.map(c => array(c.map(lit): _*)): _*)
    val batchRadii: Map[Int, Double] = placeable.groupBy("cell")
      .agg(min(cosine_similarity(col("e"),
        element_at(centsLit, col("cell") + 1))).as("mc"))
      .collect().map(r => r.getInt(0) -> math.acos(clamp(r.getDouble(1))))
      .toMap
    val storedRadii: Map[Int, Double] =
      if (haveIndex) loadRadii(spark, ivf0.path("radii")) else Map.empty
    val radii = (batchRadii.keySet ++ storedRadii.keySet).map(c =>
      c -> math.max(batchRadii.getOrElse(c, 0.0),
        storedRadii.getOrElse(c, 0.0))).toMap

    val tAngle = math.acos(clamp(threshold))
    def centAngle(i: Int, j: Int): Double = {
      val (a, b) = (model.centroids(i), model.centroids(j))
      var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
      while (d < a.length) {
        dot += a(d) * b(d); na += a(d) * a(d); nb += b(d) * b(d); d += 1
      }
      if (na == 0 || nb == 0) 0.0 else math.acos(clamp(dot / math.sqrt(na * nb)))
    }
    val keep = for {
      i <- 0 until k; j <- 0 until k
      ri <- radii.get(i); rj <- radii.get(j)
      if i == j || centAngle(i, j) <= tAngle + ri + rj
    } yield (i, j)
    import spark.implicits._
    val cellPairs = broadcast(keep.toDF("ca", "cb"))

    val yb = placeable.select(col("id").as("id_b"), col("e").as("e_b"),
      col("cell").as("cb"))
    val xWithin = placeable.select(col("id").as("id_a"), col("e").as("e_a"),
      col("cell").as("ca"))
    val droppedWithin = embedDroppedVs(xWithin, yb, cellPairs,
      ordered = true, threshold)
    val ivf = if (!haveIndex) ivf0 else promoted(spark, ivf0, "vecs",
      Seq("cell"), indexBuckets, bucketReadThresholdBytes,
      carry = Seq("model", "radii"))
    val dropped = (if (haveIndex) {
      val hist = readPart(spark, ivf, "vecs")
      val histLive = gone.fold(hist)(g =>
        hist.join(broadcast(g), Seq("id"), "left_anti"))
      val xCross = histLive.select(col("id").as("id_a"), col("e").as("e_a"),
        col("cell").as("ca"))
      droppedWithin.unionByName(
        embedDroppedVs(xCross, yb, cellPairs, ordered = false, threshold))
    } else droppedWithin).distinct()

    val kept = batchLive.join(
        dropped.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      .localCheckpoint() // decided BEFORE the index grows below
    if (!placeable.isEmpty) {
      if (haveIndex) {
        // radii BEFORE vectors: a crash in between leaves radii covering
        // vectors not yet indexed — conservatively large, still lossless.
        // The reverse order could leave indexed vectors OUTSIDE the
        // stored radii, silently losing recall on every later batch.
        saveRadii(spark, ivf.path("radii"), radii, replace = true)
        appendPart(spark, ivf, "vecs", placeable)
      } else commitVersion(spark, ivf, "vecs", Nil, 0) { dir =>
        saveCentroids(spark, s"$dir/model", model)
        saveRadii(spark, s"$dir/radii", radii)
        writeTable(spark, placeable, s"$dir/vecs", "", Nil, 0)
      }
    }
    kept
  }

  /** Cell-pair-pruned exact-cosine candidate check, oriented for scale:
    * the SMALL batch side (`yb`) expands by the broadcast `cellPairs`
    * (≤k× rows), and the expanded batch then equi-joins `xSide` on
    * `xSide`'s OWN cell column `ca`. For the cross-history join `xSide`
    * is the vecs index, bucketed on `cell` = `ca`, so the join key IS
    * the bucket column: the wide embedding payload is read
    * pre-partitioned and never exchanged — only the expanded batch
    * shuffles (plan-pinned in IncrementalNearDedupSpec). The reversed
    * orientation (expanding history by cellPairs, joining on `cb`)
    * would shuffle the embeddings whenever the batch is too big to
    * broadcast. */
  private[graft] def embedDroppedVs(xSide: DataFrame, yb: DataFrame,
      cellPairs: DataFrame, ordered: Boolean, threshold: Double): DataFrame = {
    import graft.functions.functions.cosine_similarity
    val ybExp = yb.join(cellPairs, Seq("cb"))
    xSide.join(ybExp, xSide("ca") === ybExp("ca") &&
        (if (ordered) col("id_a") < col("id_b") else lit(true)))
      .filter(cosine_similarity(col("e_a"), col("e_b")) >= threshold)
      .select(col("id_b").as("id"))
  }

  private def saveCentroids(spark: SparkSession, dir: String,
      model: IVF.Model): Unit = {
    import spark.implicits._
    model.centroids.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toSeq.toDF("cell", "pos", "v").coalesce(1).write.parquet(dir)
  }

  private def loadCentroids(spark: SparkSession, dir: String): IVF.Model = {
    val rows = spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    val k = rows.map(_._1).max + 1
    val dim = rows.map(_._2).max + 1
    val cents = Array.ofDim[Double](k, dim)
    rows.foreach { case (c, p, v) => cents(c)(p) = v }
    IVF.Model(cents)
  }

  /** radii are k tiny driver-held rows, one file per write. With
    * `replace`, a batch adds its merged map (the per-cell max over the
    * stored files and the batch) to the head's table, then deletes the
    * files it supersedes, so the table stays one file: every set of
    * files holding the newest gives the same per-cell max, so a crash
    * between the two steps loses nothing. Only lease holders read it. */
  private def saveRadii(spark: SparkSession, dir: String,
      radii: Map[Int, Double], replace: Boolean = false): Unit = {
    import spark.implicits._
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val superseded = if (!replace) Array.empty[Path]
      else fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
    radii.toSeq.toDF("cell", "radius").coalesce(1)
      .write.mode(if (replace) "append" else "errorifexists").parquet(dir)
    superseded.foreach(fs.delete(_, false))
  }

  /** the max radius per cell over every file written */
  private def loadRadii(spark: SparkSession, dir: String): Map[Int, Double] =
    spark.read.parquet(dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .groupMapReduce(_._1)(_._2)(math.max)

  // -------------------------------------------- incremental span dedup

  /** Append-only duplicate-SPAN detection via a durable gram index —
    * the incremental form of [[Dedup.duplicateSpans]]. The index holds
    * every DISTINCT `gram`-window hash ever seen (`grams/`, 8 bytes per
    * distinct window); a new batch finds its duplicated spans in
    * batch-sized work:
    *
    *   1. hash the batch's sliding windows ([[Dedup.gramHashes]] —
    *      identical tagging, so batch and one-shot agree);
    *   2. a position is duplicated iff its window occurs ≥ 2 times
    *      WITHIN the batch or ≥ 1 time in the index (i.e. ≥ 2 times in
    *      the corpus prefix ending at this batch — exactly
    *      `duplicateSpans(prefix)` restricted to batch docs, pinned by
    *      spec);
    *   3. merge islands per document ([[Dedup.mergeSpanIslands]]);
    *   4. append the batch's distinct window hashes to the index, spans
    *      checkpointed BEFORE the append (read-then-append hazard).
    *
    * Earlier documents are never re-reported when a later batch repeats
    * their text (append-only decisions, same contract as
    * [[nearDedupAppend]]); the corpus text is never rescanned. Index
    * growth is bounded by distinct windows, not corpus bytes; duplicate
    * index rows from a crash-rerun are harmless (semi join). Lay the
    * index out bucketed by `h` when the equi-join's exchange dominates.
    * Single-writer contract as [[dedupAppend]]. */
  def spanDedupAppend(spark: SparkSession, indexDir: String, batch: DataFrame,
      gram: Int = 8, idCol: String = "doc_id", textCol: String = "text",
      indexBuckets: Int = 32,
      bucketReadThresholdBytes: Long = 256L << 20): DataFrame =
      graft.util.WriterLease.withLease(spark, indexDir, "spanDedupAppend") {
    val grams0 = part(spark, indexDir, "grams")
    val haveIndex = grams0.bytes("grams") > 0
    // size gate as dedupAppend: plain while small, promoted once into a
    // table BUCKETED on `h` — both the duplicated-hash semi join and the
    // novel-hash anti join then read the index co-located on their key
    val grams = if (!haveIndex) grams0 else promoted(spark, grams0, "grams",
      Seq("h"), indexBuckets, bucketReadThresholdBytes)
    // lazy: the eager `spans` checkpoint below is the single
    // materializing job for the whole per-batch tree (g is shared by the
    // duplicated-span join and, via distinctH, both index lookups — the
    // lazy persist still computes it once)
    val g = Dedup.gramHashes(batch, gram, idCol, textCol)
      .localCheckpoint(eager = false)
    // NOT size-coalesced (same call as tf in IncrementalText): gram
    // hashes are the one dedup frame with corpus-proportional row counts
    // and real reduce-side work — serializing the distinct+write cost
    // more than the saved task commits at bench scale (spans family
    // x1.57 vs the x1.2-1.3 untouched-control drift; reverted)
    val distinctH = g.select(col("h")).distinct()
      .localCheckpoint(eager = false)
    val within = g.groupBy(col("h")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") >= 2).select(col("h"))
    // append only hashes the index does not already hold: batches sharing
    // content would otherwise re-append their overlap every run, so index
    // growth is bounded by distinct windows as documented (duplicate rows
    // from a crash re-run remain harmless — lookups are left_semi — and
    // compactIndex cleans them)
    val (dupH, novelH) = if (haveIndex) {
      val (dupSemi, novelAnti) = spanIndexLookups(spark, indexDir, distinctH)
      (within.unionByName(dupSemi).distinct(),
        // lazy: consumed exactly once, by the index append's own write
        // job — whose scan of grams/ is planned (file list snapshotted)
        // before any new file lands, so the read-then-append hazard
        // cannot bite; the eager `spans` checkpoint has already fixed
        // the batch's REPORTED spans by then
        novelAnti.localCheckpoint(eager = false))
    } else (within, distinctH)
    val spans = Dedup.mergeSpanIslands(
        g.join(dupH, Seq("h"), "left_semi"), gram)
      .localCheckpoint() // decided BEFORE the index grows below
    appendPart(spark, grams, "grams", novelH)
    spans
  }

  /** The per-batch gram-index lookups: (duplicated-hash semi join,
    * novel-hash anti join), both keyed on `h`. In bucketed mode the
    * index scan arrives pre-partitioned on `h`, so only the batch's
    * distinct hashes shuffle (plan-pinned in IncrementalNearDedupSpec). */
  private[graft] def spanIndexLookups(spark: SparkSession, indexDir: String,
      distinctH: DataFrame): (DataFrame, DataFrame) = {
    val idx = readPart(spark, part(spark, indexDir, "grams"), "grams")
    (distinctH.join(idx, Seq("h"), "left_semi"),
      distinctH.join(idx, Seq("h"), "left_anti"))
  }

  // --------------------------------------------- incremental CLUSTERING

  /** Append-only near-duplicate CLUSTER maintenance — incremental
    * connected components over the growing duplicate-pair stream, the
    * missing incremental member of the dedup family (exact / near / span
    * / embed dedup all judge a batch against history; this keeps the
    * CLUSTER LABELS current so survivor selection never recomputes
    * components over the whole corpus).
    *
    * Pairs-driven: the caller feeds each batch's duplicate pairs
    * (`id_a`, `id_b` — from [[nearDedupAppend]], [[Dedup.minhashPairs]],
    * embed pairs, any detector). Durable state under `indexDir`:
    *
    *   - `labels/`  (id, label): one APPEND-ONLY row per node ever seen,
    *     stamped with its component's min id at insert time;
    *   - `remaps/`  (src, dst): the APPEND-ONLY merge log — a batch that
    *     connects two existing components records `old root → new root`
    *     (dst < src always: roots are component MINIMA, so merging only
    *     lowers them — the log is acyclic by construction).
    *
    * A batch's work is BATCH-SIZED, never corpus-sized: endpoints look
    * up their current roots (a broadcast semi-join against `labels/` —
    * one index scan, no exchange of the label table — then the merge-log
    * closure, a pointer-doubled self-join of a table bounded by the
    * number of merges ever), the pair set CONTRACTS to root space, and
    * [[Dedup.clusters]] runs on the contracted graph (old roots + new
    * ids — |batch pairs| edges). New ids append to `labels/`; moved
    * roots append to `remaps/` (both tables of the `clusters` part; the
    * first batch commits its first version). [[resolvedClusters]] equals the one-shot
    * [[Dedup.clusters]] over the cumulative pair set EXACTLY (components
    * are order-free and min labels compose: the min of a merged
    * component is the min over its constituent roots) — pinned in
    * IncrementalClusterSpec by a generated multi-batch property.
    *
    * Crash contract (same as the other appenders): the two appends are
    * not atomic — re-send the batch after a failure. A replayed batch is
    * a no-op: endpoints resolve to already-merged roots, the contracted
    * components re-derive, src==dst remaps are dropped, and known ids
    * anti-join away. `remaps/` is written FIRST (a lost `labels/` append
    * replays cleanly; the reverse order would leave old members split
    * from the new ids' labels until replay). [[compactIndex]] folds the
    * merge log into `labels/` so read-time closure stays shallow. */
  def clusterAppend(spark: SparkSession, indexDir: String, pairs: DataFrame,
      maxDriverEdges: Long = 1L << 18): Unit =
      graft.util.WriterLease.withLease(spark, indexDir, "clusterAppend") {
    val cl = part(spark, indexDir, "clusters")
    val fs = cl.vd.fs
    // no version yet: the batch fills a new data dir, committed after
    val first = if (cl.head.isDefined) None
      else { val next = cl.next(); Some((next, next.dataDir())) }
    val dir = first.fold(cl.dir)(f => cl.vd.path(f._2))
    clusterAppendTo(spark, fs, s"$dir/labels", s"$dir/remaps", pairs,
      maxDriverEdges)
    first match {
      case Some((next, d)) =>
        if (fs.exists(new Path(dir))) cl.vd.commit(next, Seq(d))
      case None => cl.reap()
    }
  }

  /** [[clusterAppend]]'s body over the tables `labelsDir`/`remapsDir` */
  private def clusterAppendTo(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, labelsDir: String,
      remapsDir: String, pairs: DataFrame, maxDriverEdges: Long): Unit = {
    // Size-gated DRIVER fast path (optimization guide §1/§5 — the same
    // strategy choice Dedup.clusters makes): when the batch's pair set
    // fits the driver gate, the whole append runs as THREE bounded jobs
    // (pair collect, known-root lookup, the two tiny index writes)
    // instead of ~15 — per-batch fixed cost is the floor of a
    // multi-batch scenario, and the distributed path below survives
    // unchanged for genuinely large batches. Labels/remaps written are
    // IDENTICAL (same contraction, same min-rooted union-find, same
    // merge-log semantics); all index reads still happen before either
    // dir is appended to (the crash contract's ordering).
    if (maxDriverEdges + 1 <= Int.MaxValue) {
      val gated = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
        .limit((maxDriverEdges + 1).toInt).collect()
      if (gated.length <= maxDriverEdges &&
          clusterAppendLocal(spark, fs, labelsDir, remapsDir,
            gated.map(r => (r.getLong(0), r.getLong(1))))) return
    }
    // lazy checkpoints throughout (optimization r13): each per-append
    // materialization fuses into the first downstream action instead of
    // its own eager job — ordering contracts below are preserved because
    // every lazy frame that reads an index dir is forced by an action
    // that runs BEFORE that dir is appended to (remapNew.count before the
    // remaps write; newLabels.count before the labels write).
    val e = pairs.select(col("id_a").cast("long").as("a"),
      col("id_b").cast("long").as("b")).localCheckpoint(eager = false)
    val nodes = e.select(col("a").as("id"))
      .union(e.select(col("b").as("id"))).distinct()
      .localCheckpoint(eager = false)
    val haveLabels = indexBytes(fs, labelsDir) > 0
    // current root of every KNOWN endpoint: stored label resolved
    // through the merge-log closure
    val closure = remapClosure(spark, remapsDir).localCheckpoint(eager = false)
    val known = (if (haveLabels)
        spark.read.parquet(labelsDir).join(nodes, Seq("id"), "left_semi")
          .join(closure, col("label") === closure("src"), "left")
          .select(col("id"), coalesce(col("dst"), col("label")).as("root"))
      else spark.range(0).select(col("id"), col("id").as("root"))
      ).localCheckpoint(eager = false)
    // contract the batch graph to root space (unknown endpoints are
    // their own roots) and re-cluster — batch-sized work
    val ka = known.select(col("id").as("a"), col("root").as("ra"))
    val kb = known.select(col("id").as("b"), col("root").as("rb"))
    val contracted = e.join(ka, Seq("a"), "left").join(kb, Seq("b"), "left")
      .select(coalesce(col("ra"), col("a")).as("id_a"),
        coalesce(col("rb"), col("b")).as("id_b"))
    val lab = Dedup.clusters(contracted, maxDriverEdges = maxDriverEdges)
      .select(col("id").as("node"), col("cluster_id").as("newRoot"))
      .localCheckpoint(eager = false)
    // merge log first (see crash contract above): roots that moved.
    // The count() gate is ALSO the materializer: it forces remapNew (and
    // transitively closure/known/lab, which read remaps/ and labels/)
    // before either dir grows. Precisely (r13 ADVICE): with the default
    // checkpointAllMarkedAncestors=false only remapNew itself is
    // lineage-truncated — closure/known/lab stay persisted-with-lineage.
    // The read-then-append safety therefore rests on (a) their
    // MEMORY_AND_DISK blocks being retained for the rest of this append
    // and (b) parquet file listings being pinned in each frame's
    // FileIndex at creation — a block-loss recompute would re-LIST only
    // if the pinned relation were rebuilt, which nothing here does.
    val remapNew = known.select(col("root")).distinct()
      .join(lab, col("root") === col("node"))
      .filter(col("newRoot") =!= col("root"))
      .select(col("root").as("src"), col("newRoot").as("dst"))
      .localCheckpoint(eager = false)
    if (remapNew.count() > 0)
      remapNew.write.mode("append").parquet(remapsDir)
    // then the new ids, stamped with their final component min; the
    // count() forces the labels/ anti-join before labels/ grows
    val newIds = if (haveLabels)
      nodes.join(spark.read.parquet(labelsDir), Seq("id"), "left_anti")
    else nodes
    val newLabels = newIds.join(lab, newIds("id") === lab("node"))
      .select(col("id"), col("newRoot").as("label"))
      .localCheckpoint(eager = false)
    if (newLabels.count() > 0)
      newLabels.write.mode("append").parquet(labelsDir)
  }

  /** Every node ever fed to [[clusterAppend]] with its CURRENT component
    * label (= the component's min id): `labels/` joined through the
    * merge-log closure. Equals the one-shot [[Dedup.clusters]] over the
    * cumulative pair multiset. */
  def resolvedClusters(spark: SparkSession, indexDir: String): DataFrame = {
    val cl = part(spark, indexDir, "clusters")
    val closure = remapClosure(spark, cl.path("remaps"))
    spark.read.parquet(cl.path("labels"))
      .join(closure, col("label") === closure("src"), "left")
      .select(col("id"), coalesce(col("dst"), col("label")).as("cluster_id"))
  }

  /** Corpus rows that SURVIVE incremental near-dup clustering: drop
    * every doc that is a NON-canonical member of a cluster (its resolved
    * label is some other doc's id); docs in no cluster — never fed to
    * [[clusterAppend]] in any pair — survive untouched. Equals the
    * one-shot [[Dedup.dropNearDuplicates]] over the cumulative pair set
    * by the [[resolvedClusters]] equivalence, but the per-epoch cost is
    * one anti-join against the label index instead of recomputing
    * components over the whole corpus. */
  def clusterSurvivors(docs: DataFrame, indexDir: String,
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    val dropped = resolvedClusters(spark, indexDir)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** Driver-side merge-log closure: (src → final root) as a LongMap,
    * when the log fits the driver gate. None past the gate (caller runs
    * the distributed pointer-doubling instead). Min-collapse of
    * duplicated src rows matches the distributed groupBy(src).min(dst);
    * the log is acyclic (dst < src), so the iterative chain walk with
    * memoization computes the same fixpoint. */
  private def remapClosureLocal(spark: SparkSession, remapsDir: String,
      maxDriverRemaps: Long = 1L << 18)
      : Option[scala.collection.mutable.LongMap[Long]] = {
    import scala.collection.mutable
    val fs = new Path(remapsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (indexBytes(fs, remapsDir) == 0) return Some(mutable.LongMap.empty)
    if (maxDriverRemaps + 1 > Int.MaxValue) return None
    val gated = spark.read.parquet(remapsDir)
      .select(col("src"), col("dst"))
      .limit((maxDriverRemaps + 1).toInt).collect()
    if (gated.length > maxDriverRemaps) return None
    val parent = mutable.LongMap.empty[Long]
    gated.foreach { r =>
      val (s, d) = (r.getLong(0), r.getLong(1))
      parent.get(s) match {
        case Some(prev) if prev <= d => ()
        case _ => parent(s) = d
      }
    }
    // iterative chain walk (no recursion: chains can be deep) with
    // full-path memoization
    val memo = mutable.LongMap.empty[Long]
    def resolve(x0: Long): Long = memo.getOrElse(x0, {
      var chain = List.empty[Long]
      var x = x0
      var res = 0L
      var found = false
      while (!found) memo.get(x) match {
        case Some(v) => res = v; found = true
        case None => parent.get(x) match {
          case Some(d) => chain ::= x; x = d
          case None => res = x; found = true
        }
      }
      chain.foreach(n => memo(n) = res)
      res
    })
    Some(mutable.LongMap.from(
      parent.keysIterator.map(s => s -> resolve(s))))
  }

  /** Driver-side body of [[clusterAppend]]'s size-gated fast path: the
    * same contraction → min-rooted union-find → (remaps, labels) appends
    * as the distributed path, on a collected batch. Returns false (no
    * writes done) when the merge log exceeds its own driver gate. All
    * index reads happen before either dir is appended to (the crash
    * contract's ordering). */
  private def clusterAppendLocal(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, labelsDir: String,
      remapsDir: String, edges: Array[(Long, Long)]): Boolean = {
    import scala.collection.mutable
    import spark.implicits._
    val closure = remapClosureLocal(spark, remapsDir) match {
      case Some(m) => m
      case None => return false
    }
    if (edges.isEmpty) return true
    val nodes: Array[Long] =
      edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    // current root of every KNOWN endpoint: one broadcast semi-join scan
    // of labels/, resolved through the collected closure
    val knownRoots = mutable.LongMap.empty[Long]
    if (indexBytes(fs, labelsDir) > 0) {
      val nodesDf = nodes.toSeq.sorted.toDF("id")
      spark.read.parquet(labelsDir).select(col("id"), col("label"))
        .join(broadcast(nodesDf), Seq("id"), "left_semi")
        .collect().foreach { r =>
          val lbl = r.getLong(1)
          knownRoots(r.getLong(0)) = closure.getOrElse(lbl, lbl)
        }
    }
    // contract to root space + min-rooted union-find (identical labels
    // to Dedup.clusters over the contracted graph)
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nx = parent(c); parent(c) = r; c = nx
      }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(knownRoots.getOrElse(a, a))
      val rb = find(knownRoots.getOrElse(b, b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // merge log first (crash contract): known roots that moved
    val remapNew = knownRoots.values.toArray.distinct.sorted
      .flatMap { r => val nr = find(r); if (nr != r) Some((r, nr)) else None }
    if (remapNew.nonEmpty)
      remapNew.toSeq.toDF("src", "dst")
        .coalesce(1).write.mode("append").parquet(remapsDir)
    // then the new ids, stamped with their final component min
    val newLabels = nodes.sorted.filter(id => !knownRoots.contains(id))
      .map(id => (id, find(id)))
    if (newLabels.nonEmpty)
      newLabels.toSeq.toDF("id", "label")
        .coalesce(1).write.mode("append").parquet(labelsDir)
    true
  }

  /** The merge log transitively CLOSED: (src → final root) for every
    * root that ever moved. Pointer doubling over the log — a table
    * bounded by the number of merges, log₂(chain) self-join rounds;
    * chains only grow one hop per batch and [[compactIndex]] resets them
    * to zero. Conflicting duplicates (replayed batches) collapse
    * deterministically to the min target. */
  private[graft] def remapClosure(spark: SparkSession,
      remapsDir: String, maxDriverRemaps: Long = 1L << 18): DataFrame = {
    val fs = new Path(remapsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (indexBytes(fs, remapsDir) == 0)
      return spark.range(0).select(col("id").as("src"), col("id").as("dst"))
    // small-log fast path (same size-gated strategy as Dedup.clusters):
    // the merge log is bounded by the number of component merges EVER —
    // orders of magnitude below corpus size in practice — so one
    // limit-gated collect + a driver-side walk replaces the pointer-
    // doubling rounds' per-iteration join + probe JOBS (each a scheduler
    // round-trip, paid once per append AND once per resolved read). The
    // log is acyclic (dst < src always), so following dst-chains to their
    // fixpoint with memoization is exactly the transitive closure; the
    // min-collapse of replayed duplicates matches groupBy(src).min(dst).
    remapClosureLocal(spark, remapsDir, maxDriverRemaps) match {
      case Some(m) =>
        import spark.implicits._
        return m.toSeq.sorted.toDF("src", "dst")
      case None => () // log over the gate: distributed closure below
    }
    var m = spark.read.parquet(remapsDir)
      .groupBy(col("src")).agg(org.apache.spark.sql.functions.min(col("dst")).as("dst"))
      .localCheckpoint(eager = false) // unresolved() probe materializes
    var iters = 0
    def unresolved(d: DataFrame): Boolean =
      d.join(d.select(col("src").as("_s")), col("dst") === col("_s"),
        "left_semi").limit(1).count() > 0
    var pending = unresolved(m)
    while (iters < 64 && pending) {
      val l = m.select(col("src"), col("dst"))
      val r = m.select(col("src").as("_rs"), col("dst").as("_rd"))
      m = l.join(r, col("dst") === col("_rs"), "left")
        .select(col("src"), coalesce(col("_rd"), col("dst")).as("dst"))
        .localCheckpoint(eager = false)
      pending = unresolved(m)
      iters += 1
    }
    // pointer doubling covers 2^64-deep chains in 64 rounds, so this is
    // practically unreachable — but a partially-resolved closure would
    // silently mislabel clusters; fail loudly instead
    if (pending) throw new IllegalStateException(
      s"remapClosure($remapsDir) did not converge after $iters " +
        "pointer-doubling rounds — merge log may be cyclic/corrupt; " +
        "rebuild the index or run compactIndex from a backup")
    m
  }

  // --------------------------------------------------- index compaction

  /** Rewrite every table of a dedup index to one row per DISTINCT entry —
    * crash-rerun hygiene: an append that ran after its batch's result
    * was materialized but crashed before completion can leave duplicate
    * index rows on a re-run. Duplicates never change dedup decisions
    * (every lookup is a semi/anti join), but they grow the index and its
    * per-batch scan forever; one compaction pass reclaims them, like
    * [[graft.sources.Layouts.compact]] does for corpora.
    *
    * Handles every part this module writes (see the object doc); a part
    * keeps its layout (a bucketed part is compacted THROUGH its catalog
    * table and rewritten bucketed). Each rewrite writes a complete new
    * data dir and commits it with one meta rename, so readers and a
    * crash see the old version or the new one. Runs under the same
    * single-writer contract as the appends.
    *
    * `refreshIvfModel`: opt-in RE-CLUSTER of the embedding index's frozen
    * IVF model. [[embedDedupAppend]] fits its centroids once on the first
    * batch and freezes them — correct at any quality (the cell-pair bound
    * is lossless under ANY fixed centroid set) but under DRIFT the
    * first-batch model's cells skew: a few cells absorb most of the
    * corpus and their ever-growing radii make the pruning keep almost
    * every cell pair. The refresh rebuilds centroids from the index's OWN
    * vectors (index-sized work, never a corpus rescan), re-assigns every
    * indexed vector, and recomputes radii EXACTLY from the members
    * (tighter than the grown running maxima). Dedup decisions are
    * unaffected — past survivors are already recorded, and future batches
    * verify exact cosine inside the (still lossless) pruned pairs; only
    * pruning efficiency changes. The triple commits as one version.
    *
    * @return per compacted table: path -> (rowsBefore, rowsAfter) */
  def compactIndex(spark: SparkSession, indexDir: String,
      refreshIvfModel: Boolean = false,
      refreshSampleN: Int = 1024,
      refreshIters: Int = 6,
      refreshSeed: Long = 42L): Map[String, (Long, Long)] =
      graft.util.WriterLease.withLease(spark, indexDir, "compactIndex") {
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]

    // one part's table `table`, reported as `key`: distinct rows (after
    // `xform`), rewritten in the head's layout when that drops any
    def compact(name: String, table: String, key: String,
        carry: Seq[String] = Nil,
        xform: DataFrame => DataFrame = identity): Unit = {
      val p = part(spark, indexDir, name)
      p.head.foreach { h =>
        val src = readPart(spark, p, table)
        val before = src.count()
        val d = xform(src).distinct().localCheckpoint()
        val after = d.count()
        if (after < before)
          rewrite(spark, p, table, d, h.bucketBy, h.buckets, carry)
        out(key) = (before, after)
      }
    }

    // exact-dedup keys. Outstanding [[dedupRemove]] tombstones drop
    // PHYSICALLY here (the rewrite anti-joins them away) and the snapshot
    // resets — after compaction every surviving index row is live again.
    val gone = goneKeys(spark, indexDir)
    val ra = readdedKeys(spark, indexDir)
    compact("keys", "keys", indexDir, xform = df => {
      val d1 = gone.fold(df)(g =>
        df.join(broadcast(g), Seq("_h1", "_h2"), "left_anti"))
      // re-admitted keys: keep only the CURRENT keeper's row — the
      // stale pre-removal rows drop here, after which the ledger can
      // clear (the plain index-row keeper match is exact again)
      ra.fold(d1) { r =>
        val idName = d1.columns.filterNot(Seq("_h1", "_h2").contains).head
        d1.join(broadcast(r.withColumnRenamed("_id", "_ra_id")),
            Seq("_h1", "_h2"), "left")
          .filter(col("_ra_id").isNull || col("_ra_id") === col(idName))
          .drop("_ra_id")
      }
    })
    if (gone.isDefined) dropSnap(spark, indexDir, "gone")
    if (ra.isDefined) dropSnap(spark, indexDir, "readded")
    compact("grams", "grams", s"$indexDir/grams")
    // id tombstones (nearDedupRemove / embedDedupRemove) drop PHYSICALLY
    // here from every id-keyed table — but the gone_ids snapshot itself
    // SURVIVES: ids are permanent handles, and a crash-replayed OLD
    // batch carrying a removed id must stay a no-op after compaction
    // too (dropping the snapshot would let the replay re-index the
    // removed doc and undo the takedown). The snapshot is bounded by
    // total removals ever — tombstoning is rare, rows are 8 bytes.
    val goneI = goneIds(spark, indexDir)
    def dropIds(df: DataFrame): DataFrame =
      goneI.fold(df)(g => df.join(broadcast(g), Seq("id"), "left_anti"))
    compact("bands", "bands", s"$indexDir/bands", xform = dropIds)
    compact("sigs", "sigs", s"$indexDir/sigs", xform = dropIds)
    compact("ivf", "vecs", s"$indexDir/vecs", Seq("model", "radii"), dropIds)
    // opt-in IVF model re-cluster (see the method doc): rebuild
    // centroids from the index's own vectors, re-assign, recompute radii
    // exactly, and commit the consistent (model, radii, vecs) triple
    val ivf = part(spark, indexDir, "ivf")
    if (refreshIvfModel && ivf.bytes("vecs") > 0) {
      import graft.functions.functions.cosine_similarity
      val h = ivf.head.get
      val oldModel = loadCentroids(spark, ivf.path("model"))
      val src = readPart(spark, ivf, "vecs")
      val nVecs = src.count()
      val m2 = IVF.fit(src, oldModel.centroids.length, refreshSampleN,
        refreshIters, refreshSeed, "id", "e")
      // every indexed vector was placeable under the old model (non-zero
      // norm), so reassignment against the new centroids never nulls
      val reassigned = IVF.index(src.select(col("id"), col("e")), m2, "e")
        .select(col("id"), col("e"), col("ivf_cell").as("cell"))
        .localCheckpoint()
      def clamp(x: Double): Double = math.max(-1.0, math.min(1.0, x))
      val centsLit = array(m2.centroids.map(c => array(c.map(lit): _*)): _*)
      val radii2: Map[Int, Double] = reassigned.filter(col("cell").isNotNull)
        .groupBy("cell")
        .agg(min(cosine_similarity(col("e"),
          element_at(centsLit, col("cell") + 1))).as("mc"))
        .collect().map(r => r.getInt(0) -> math.acos(clamp(r.getDouble(1))))
        .toMap
      // the vecs layout is preserved: bucketed-by-cell when the head is
      commitVersion(spark, ivf, "vecs", h.bucketBy, h.buckets) { dir =>
        saveCentroids(spark, s"$dir/model", m2)
        saveRadii(spark, s"$dir/radii", radii2)
        writeTable(spark, reassigned, s"$dir/vecs", ivf.catalogName("vecs"),
          h.bucketBy, h.buckets)
      }
      out(s"$indexDir/ivf") = (nVecs, nVecs)
    }
    // incremental-cluster state: fold the merge log into labels/ so the
    // read-time remap closure resets to depth zero — a new version with
    // the folded labels and no merge log
    val cl = part(spark, indexDir, "clusters")
    if (cl.bytes("remaps") > 0 && cl.bytes("labels") > 0) {
      val before = spark.read.parquet(cl.path("remaps")).count()
      val folded = resolvedClusters(spark, indexDir)
        .select(col("id"), col("cluster_id").as("label")).localCheckpoint()
      commitVersion(spark, cl, "labels", Nil, 0)(dir =>
        writeTable(spark, folded, s"$dir/labels", "", Nil, 0))
      out(s"$indexDir/remaps") = (before, 0L)
    }
    out.toMap
  }

  /** Fresh per-run index dir under java.io.tmpdir (test/query scaffold). */
  def scratchIndexDir(spark: SparkSession, tag: String): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_dedup_idx/$tag"
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    dir
  }
}
