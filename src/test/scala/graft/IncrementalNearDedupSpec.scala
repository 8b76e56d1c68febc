package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, IncrementalDedup}
import graft.sources.Tables

/** Incremental near-dup index semantics: history drops resends, phase
  * order equals the one-shot drop-if-any-earlier result, and the
  * sub-shingle escape hatch. */
class IncrementalNearDedupSpec extends AnyFunSuite {
  import TestSparkSession._

  /** Assert the scan whose root path ends with `part` is a bucketed scan
    * with NO ShuffleExchange strictly between it and its nearest join
    * ancestor — the index side of the join must be exchange-free. */
  /** With `wholePath`, forbid exchanges on the ENTIRE root→scan path —
    * for plans where the index side must flow into its final join with
    * no repartitioning at all (catches a re-orientation that hides the
    * exchange above an intermediate broadcast join). */
  private def pinBucketedScan(
      plan: org.apache.spark.sql.execution.SparkPlan, part: String,
      wholePath: Boolean = false): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => JoinExec}
    def pathTo(p: SparkPlan, pred: SparkPlan => Boolean)
        : Option[List[SparkPlan]] =
      if (pred(p)) Some(List(p))
      else p.children.view.flatMap(c => pathTo(c, pred)).headOption
        .map(p :: _)
    val path = pathTo(plan, {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.endsWith(part))
      case _ => false
    }).getOrElse(fail(s"no $part scan in plan:\n$plan"))
    val scan = path.last.asInstanceOf[FileSourceScanExec]
    assert(scan.bucketedScan, s"$part scan not bucketed:\n$plan")
    val checked =
      if (wholePath) path
      else path.reverse.takeWhile(!_.isInstanceOf[JoinExec])
    assert(!checked.exists(_.isInstanceOf[ShuffleExchangeExec]),
      s"index side of the $part join shuffles:\n$plan")
  }

  test("re-sending an already-indexed batch drops every shingled doc") {
    val docs = Tables.documents(spark, sf0001)
    val idx = IncrementalDedup.scratchIndexDir(spark, "near-resend")
    val first = IncrementalDedup.nearDedupAppend(spark, idx, docs, 0.5)
    assert(first.count() > 0)
    val again = IncrementalDedup.nearDedupAppend(spark, idx, docs, 0.5)
    // every doc with >=1 shingle is its own J=1.0 neighbor in history;
    // only docs too short to shingle can survive a resend
    val shingled = docs
      .filter(size(Dedup.shingles(col("text"), 3)) > 0)
      .count()
    assert(again.count() == docs.count() - shingled,
      s"resend kept ${again.count()} of ${docs.count()} ($shingled shingled)")
  }

  test("phased appends equal the one-shot drop-if-any-earlier semantics") {
    val docs = Tables.documents(spark, sf0001)
      .withColumn("phase", pmod(col("doc_id"), lit(3)))
    val idx = IncrementalDedup.scratchIndexDir(spark, "near-phases")
    val kept = (0 to 2).map { ph =>
      IncrementalDedup.nearDedupAppend(spark, idx,
        docs.filter(col("phase") === ph), 0.5)
    }.reduce(_.unionByName(_))
      .select("doc_id").collect().map(_.getLong(0)).toSet

    // reference: exact pair set; doc dropped iff an earlier (phase, id)
    // neighbor exists — kept or not
    val order = docs.select("doc_id", "phase").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.ngramJaccardPairs(
        Tables.documents(spark, sf0001), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def earlier(a: Long, b: Long) = // (phase, id) lexicographic
      order(a) < order(b) || (order(a) == order(b) && a < b)
    val dropped = pairs.flatMap { case (a, b) =>
      Seq(if (earlier(a, b)) Some(b) else None,
        if (earlier(b, a)) Some(a) else None).flatten
    }.toSet
    val expect = order.keySet -- dropped
    assert(kept == expect,
      s"missing=${expect -- kept} extra=${kept -- expect}")
  }

  test("docs too short to shingle always survive and are never indexed") {
    val s = spark
    import s.implicits._
    val idx = IncrementalDedup.scratchIndexDir(spark, "near-short")
    val b1 = Seq((1L, "only two")).toDF("doc_id", "text")
    val k1 = IncrementalDedup.nearDedupAppend(spark, idx, b1, 0.5)
    assert(k1.count() == 1)
    // the same short text again: still kept (nothing was indexed)
    val b2 = Seq((2L, "only two")).toDF("doc_id", "text")
    val k2 = IncrementalDedup.nearDedupAppend(spark, idx, b2, 0.5)
    assert(k2.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("bucketed read path drops exactly what the small-index fast path drops") {
    val docs = Tables.documents(spark, sf0001)
      .withColumn("phase", pmod(col("doc_id"), lit(3)))
    def runWith(tag: String, thresh: Long): Set[Long] = {
      val idx = IncrementalDedup.scratchIndexDir(spark, tag)
      (0 to 2).map(ph => IncrementalDedup.nearDedupAppend(spark, idx,
          docs.filter(col("phase") === ph), 0.5,
          bucketReadThresholdBytes = thresh))
        .reduce(_.unionByName(_))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val fast = runWith("near-gate-fast", Long.MaxValue)
    val bucketed = runWith("near-gate-bucketed", 0L)
    assert(fast == bucketed,
      s"missing=${fast -- bucketed} extra=${bucketed -- fast}")
  }

  test("cross-history joins read the index bucketed and exchange-free") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec => JoinExec}
    val idx = IncrementalDedup.scratchIndexDir(spark, "near-planpin")
    val docs = Tables.documents(spark, sf0001)
      .withColumn("phase", pmod(col("doc_id"), lit(2)))
    // threshold 0: the second batch finds the index over-threshold and
    // PROMOTES it to the bucketed layout crossDropped reads
    IncrementalDedup.nearDedupAppend(spark, idx,
      docs.filter(col("phase") === 0).filter(col("doc_id") < 100), 0.5,
      bucketReadThresholdBytes = 0)
    IncrementalDedup.nearDedupAppend(spark, idx,
      docs.filter(col("phase") === 0).filter(col("doc_id") >= 100), 0.5,
      bucketReadThresholdBytes = 0)
    // static plan (no AQE re-plan, no broadcast escape hatch): both
    // joins must satisfy their clustered distribution from the bucketed
    // scans alone — only the batch side may exchange
    org.apache.spark.sql.graftshim.Shims.withIsolatedConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") { iso =>
      val (sh, bnd) = IncrementalDedup.batchSignatures(
        iso.read.parquet(sf0001 + "/documents.parquet")
          .filter(pmod(col("doc_id"), lit(2)) === 1),
        3, 64, 16, "doc_id", "text")
      val dropped = IncrementalDedup.crossDropped(iso, idx, bnd, sh, 0.5)
      val plan = dropped.queryExecution.executedPlan
      pinBucketedScan(plan, "/bands")
      pinBucketedScan(plan, "/sigs")
      assert(dropped.count() > 0) // the pinned plan actually runs
    }
  }

  test("embed cross-history join reads vecs bucketed and exchange-free") {
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("phase", pmod(col("vec_id"), lit(2)))
    val idx = IncrementalDedup.scratchIndexDir(spark, "embed-planpin")
    // threshold 0: the second batch promotes vecs/ to the bucketed table
    IncrementalDedup.embedDedupAppend(spark, idx,
      emb.filter(col("phase") === 0), threshold = 0.4,
      bucketReadThresholdBytes = 0)
    IncrementalDedup.embedDedupAppend(spark, idx,
      emb.filter(col("phase") === 1), threshold = 0.4,
      bucketReadThresholdBytes = 0)
    org.apache.spark.sql.graftshim.Shims.withIsolatedConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") { iso =>
      val vecsTable = IncrementalDedup.indexTableName(idx, "vecs")
      val hist = iso.table(vecsTable).select(col("id").as("id_a"),
        col("e").as("e_a"), col("cell").as("ca"))
      val cells = iso.table(vecsTable).select("cell").distinct()
        .collect().map(_.getInt(0))
      import iso.implicits._
      val cellPairs = broadcast(
        (for { a <- cells; b <- cells } yield (a, b)).toSeq.toDF("ca", "cb"))
      // a resend-shaped batch: real vectors, cells as stored
      val yb = iso.table(vecsTable).limit(100).select(col("id").as("id_b"),
        col("e").as("e_b"), col("cell").as("cb"))
      val dropped = IncrementalDedup.embedDroppedVs(hist, yb, cellPairs,
        ordered = false, threshold = 0.4)
      val plan = dropped.queryExecution.executedPlan
      // the join key is hist's OWN bucket column: the wide embedding
      // payload must come straight off the bucketed scan, no exchange
      pinBucketedScan(plan, "/vecs", wholePath = true)
      assert(dropped.count() > 0) // resent vectors match at cosine 1.0
    }
  }

  test("exact and span index lookups read bucketed and exchange-free") {
    val docs = Tables.documents(spark, sf0001)
      .withColumn("phase", pmod(col("doc_id"), lit(2)))
    // exact-dedup keys index, promoted at the second append
    val kIdx = IncrementalDedup.scratchIndexDir(spark, "exact-planpin")
    IncrementalDedup.indexInit(docs.filter(col("phase") === 0), kIdx)
    IncrementalDedup.dedupAppend(spark, kIdx,
      docs.filter(col("phase") === 1), bucketReadThresholdBytes = 0)
    // span grams index, promoted at the second append
    val sIdx = IncrementalDedup.scratchIndexDir(spark, "span-planpin")
    IncrementalDedup.spanDedupAppend(spark, sIdx,
      docs.filter(col("phase") === 0), bucketReadThresholdBytes = 0)
    IncrementalDedup.spanDedupAppend(spark, sIdx,
      docs.filter(col("phase") === 1), bucketReadThresholdBytes = 0)
    org.apache.spark.sql.graftshim.Shims.withIsolatedConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") { iso =>
      val batch = iso.read.parquet(sf0001 + "/documents.parquet")
      val w = IncrementalDedup.winners(batch, "doc_id", "text")
      val novel = IncrementalDedup.keysNovel(iso, kIdx, w)
      pinBucketedScan(novel.queryExecution.executedPlan, "/keys")
      assert(novel.count() == 0) // resend: nothing novel, plan ran

      val distinctH = graft.operators.Dedup.gramHashes(batch, 8, "doc_id", "text")
        .select(col("h")).distinct()
      val (dupSemi, novelAnti) =
        IncrementalDedup.spanIndexLookups(iso, sIdx, distinctH)
      pinBucketedScan(dupSemi.queryExecution.executedPlan, "/grams")
      pinBucketedScan(novelAnti.queryExecution.executedPlan, "/grams")
      assert(dupSemi.count() > 0) // resent windows are all in the index
      assert(novelAnti.count() == 0)
    }
  }

  test("appending to a v1 (string-shingle) sigs index fails fast") {
    val docs = Tables.documents(spark, sf0001).limit(50)
    val idx = IncrementalDedup.scratchIndexDir(spark, "near-v1")
    IncrementalDedup.nearDedupAppend(spark, idx, docs, 0.5)
    // simulate a pre-v2 index: sigs/ rewritten with string shingles (the
    // old format); long-vs-string would coerce to array<string> and turn
    // every cross-history Jaccard into 0 — silent duplicate passthrough
    val sigs = indexTable(idx, "sigs", "sigs").get
    val old = spark.read.parquet(sigs)
      .select(col("id"), transform(col("sh"), _.cast("string")).as("sh"))
      .localCheckpoint()
    old.write.mode("overwrite").parquet(sigs)
    val e = intercept[IllegalStateException] {
      IncrementalDedup.nearDedupAppend(spark, idx, docs, 0.5).collect()
    }
    assert(e.getMessage.contains("pre-v2"), e.getMessage)
  }

  test("compactIndex reclaims duplicate rows, preserves layout + decisions") {
    val idx = IncrementalDedup.scratchIndexDir(spark, "near-compact")
    val docs = Tables.documents(spark, sf0001)
    // two threshold-0 batches: the second promotes the index to the
    // bucketed catalog layout this test compacts through
    IncrementalDedup.nearDedupAppend(spark, idx,
      docs.filter(col("doc_id") < 100), 0.5, bucketReadThresholdBytes = 0)
    IncrementalDedup.nearDedupAppend(spark, idx,
      docs.filter(col("doc_id") >= 100), 0.5, bucketReadThresholdBytes = 0)
    // simulate a crash re-run: every index row appended a second time
    // (INSERT INTO the catalog tables keeps the bucketed file layout)
    val bandsT = IncrementalDedup.indexTableName(idx, "bands")
    val sigsT = IncrementalDedup.indexTableName(idx, "sigs")
    val nBands = spark.table(bandsT).count()
    val nSigs = spark.table(sigsT).count()
    spark.sql(s"INSERT INTO $bandsT SELECT * FROM $bandsT")
    spark.sql(s"INSERT INTO $sigsT SELECT * FROM $sigsT")
    assert(spark.table(bandsT).count() == 2 * nBands)

    val report = IncrementalDedup.compactIndex(spark, idx)
    assert(report(s"$idx/bands") == (2 * nBands, nBands), report)
    assert(report(s"$idx/sigs") == (2 * nSigs, nSigs), report)
    assert(spark.table(bandsT).count() == nBands)
    // compaction preserved the bucketed layout (catalog still says so)
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(bandsT))
      .bucketSpec
    assert(spec.exists(s => s.numBuckets == 32 &&
      s.bucketColumnNames == Seq("band_idx", "band_hash")), spec)
    // dedup decisions unchanged: a resend still drops every shingled doc
    val again = IncrementalDedup.nearDedupAppend(spark, idx, docs, 0.5)
    val shingled = docs
      .filter(size(Dedup.shingles(col("text"), 3)) > 0).count()
    assert(again.count() == docs.count() - shingled)
  }

  test("shingle_sketch bands are bit-identical to the string pipeline") {
    val docs = Tables.documents(spark, sf0001).limit(200)
    val viaSketch = docs.select(col("doc_id"),
        graft.functions.functions.shingle_sketch(col("text"), 3, 64, 16)
          .as("sk"))
      .select(col("doc_id"), col("sk.bands").as("b"), size(col("sk.sh")).as("n"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getInt(2)))).toMap
    val viaStrings = docs.select(col("doc_id"),
        graft.functions.functions.minhash_band_hashes(
          Dedup.shingles(col("text"), 3), 64, 16).as("b"),
        size(Dedup.shingles(col("text"), 3)).as("n"))
      .collect().map(r => r.getLong(0) ->
        ((r.getSeq[Long](1), r.getInt(2)))).toMap
    viaSketch.foreach { case (id, (b, n)) =>
      // sub-n docs: string pipeline yields empty shingles and the sketch
      // empty arrays — both filtered identically by callers
      if (n > 0) {
        assert(b == viaStrings(id)._1, s"bands differ for doc $id")
        assert(n == viaStrings(id)._2, s"shingle count differs for doc $id")
      } else assert(viaStrings(id)._2 == 0)
    }
  }

  test("embedding phased appends equal one-shot drop-if-any-earlier") {
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("phase", pmod(col("vec_id"), lit(3)))
    val idx = IncrementalDedup.scratchIndexDir(spark, "embed-phases")
    val kept = (0 to 2).map { ph =>
      IncrementalDedup.embedDedupAppend(spark, idx,
        emb.filter(col("phase") === ph), threshold = 0.4)
    }.reduce(_.unionByName(_))
      .select("vec_id").collect().map(_.getLong(0)).toSet

    // reference: brute-force exact pair set, (phase, id)-ordered drops
    val pairs = graft.operators.Similarity.exactPairs(
        Tables.embeddings(spark, sf0001), threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val order = emb.select("vec_id", "phase").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def earlier(a: Long, b: Long) =
      order(a) < order(b) || (order(a) == order(b) && a < b)
    val droppedRef = pairs.flatMap { case (a, b) =>
      Seq(if (earlier(a, b)) Some(b) else None,
        if (earlier(b, a)) Some(a) else None).flatten
    }.toSet
    val expect = order.keySet -- droppedRef
    assert(kept == expect,
      s"missing=${expect -- kept} extra=${kept -- expect}")

    // resend: every vector is its own cosine-1 neighbor in history
    val again = IncrementalDedup.embedDedupAppend(spark, idx, emb, 0.4)
    assert(again.count() == 0, s"resend kept ${again.count()}")
  }

  test("nearDedupRemove: a removed doc stops suppressing, tombstoned ids " +
      "stay dead, compaction drops their rows") {
    import spark.implicits._
    // 40 mutually non-matching docs (every 3-shingle carries an
    // i-specific token, so cross-doc Jaccard is 0 and the only possible
    // suppressor of a content is a copy of itself)
    def mkDocs(ids: Seq[Long], shift: Long = 0L) = ids.map(i =>
      (i + shift, s"unique words alpha$i beta$i gamma$i delta$i eps$i"))
      .toDF("doc_id", "text")
    val ids = (1L to 40L).toSeq
    val idx = IncrementalDedup.scratchIndexDir(spark, "near-remove")
    val k1 = IncrementalDedup.nearDedupAppend(spark, idx, mkDocs(ids))
    assert(k1.count() == 40)
    // exact resends suppress (J = 1 against history)
    assert(IncrementalDedup.nearDedupAppend(spark, idx,
      mkDocs(ids, shift = 1000L)).count() == 0)
    // takedown of 5 contents: BOTH copies' ids (the original and the
    // dropped resend are each indexed as suppressors)
    val tgt = ids.take(5)
    val rmIds = (tgt ++ tgt.map(_ + 1000L)).toDF("doc_id")
    assert(IncrementalDedup.nearDedupRemove(spark, idx, rmIds) == 10L)
    // replays no-op
    assert(IncrementalDedup.nearDedupRemove(spark, idx, rmIds) == 0L)
    // the removed contents re-admit under FRESH ids; untouched contents
    // stay suppressed
    val k2 = IncrementalDedup.nearDedupAppend(spark, idx,
      mkDocs(ids, shift = 2000L))
    assert(k2.select("doc_id").collect().map(_.getLong(0)).toSet ==
      tgt.map(_ + 2000L).toSet, "exactly the removed contents re-admit")
    // a replayed OLD batch carrying tombstoned ids is a no-op: those
    // rows are already-seen, the rest still suppressed by history
    assert(IncrementalDedup.nearDedupAppend(spark, idx,
      mkDocs(ids, shift = 1000L)).count() == 0)
    // compaction drops the tombstoned rows physically but the snapshot
    // SURVIVES (ids are permanent — a replayed pre-removal batch must
    // stay a no-op even after compaction); the re-admitted copies now
    // suppress
    IncrementalDedup.compactIndex(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/gone_ids")),
      "id tombstones must survive compaction")
    val sigIds = spark.read.parquet(indexTable(idx, "sigs", "sigs").get)
      .select("id")
      .collect().map(_.getLong(0)).toSet
    assert(tgt.forall(t => !sigIds.contains(t) && !sigIds.contains(t + 1000L)),
      "tombstoned ids still in sigs after compaction")
    // a crash-replayed OLD batch carrying the removed ids: still a no-op
    assert(IncrementalDedup.nearDedupAppend(spark, idx,
      mkDocs(tgt, shift = 1000L)).count() == 0)
    assert(IncrementalDedup.nearDedupAppend(spark, idx,
      mkDocs(ids, shift = 3000L)).count() == 0)
  }

  test("embedDedupRemove: removed vectors stop suppressing; radii stay " +
      "lossless upper bounds") {
    import spark.implicits._
    // 24 one-hot vectors (dim 32): cross cosine 0, self cosine 1 — the
    // only suppressor of a vector is a copy of itself
    def mkVecs(ids: Seq[Long], shift: Long = 0L) = ids.map(i =>
      (i + shift, Array.tabulate(32)(d =>
        if (d == (i % 32).toInt) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val ids = (1L to 24L).toSeq
    val idx = IncrementalDedup.scratchIndexDir(spark, "embed-remove")
    assert(IncrementalDedup.embedDedupAppend(spark, idx, mkVecs(ids),
      threshold = 0.4, cells = 4).count() == 24)
    assert(IncrementalDedup.embedDedupAppend(spark, idx,
      mkVecs(ids, shift = 1000L), threshold = 0.4, cells = 4).count() == 0)
    val tgt = ids.take(4)
    val rmIds = (tgt ++ tgt.map(_ + 1000L)).toDF("vec_id")
    assert(IncrementalDedup.embedDedupRemove(spark, idx, rmIds) == 8L)
    assert(IncrementalDedup.embedDedupRemove(spark, idx, rmIds) == 0L)
    val k2 = IncrementalDedup.embedDedupAppend(spark, idx,
      mkVecs(ids, shift = 2000L), threshold = 0.4, cells = 4)
    assert(k2.select("vec_id").collect().map(_.getLong(0)).toSet ==
      tgt.map(_ + 2000L).toSet, "exactly the removed vectors re-admit")
    // replayed old batch carrying tombstoned ids: no-op
    assert(IncrementalDedup.embedDedupAppend(spark, idx,
      mkVecs(ids, shift = 1000L), threshold = 0.4, cells = 4).count() == 0)
    // compaction drops the rows; the snapshot survives (permanent ids)
    // and the re-admitted copies now suppress
    IncrementalDedup.compactIndex(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/gone_ids")),
      "id tombstones must survive compaction")
    assert(IncrementalDedup.embedDedupAppend(spark, idx,
      mkVecs(tgt, shift = 1000L), threshold = 0.4, cells = 4).count() == 0)
    assert(IncrementalDedup.embedDedupAppend(spark, idx,
      mkVecs(ids, shift = 3000L), threshold = 0.4, cells = 4).count() == 0)
  }

  test("IVF model refresh at compaction preserves decisions, stays exchange-free") {
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("phase", pmod(col("vec_id"), lit(3)))
    def run(tag: String, refreshAfter: Set[Int]): Set[Long] = {
      val idx = IncrementalDedup.scratchIndexDir(spark, tag)
      (0 to 2).map { ph =>
        val kept = IncrementalDedup.embedDedupAppend(spark, idx,
          emb.filter(col("phase") === ph), threshold = 0.4,
          bucketReadThresholdBytes = 0)
          .select("vec_id").collect().map(_.getLong(0)).toSet
        if (refreshAfter.contains(ph)) {
          // a different seed guarantees the refit actually MOVES the
          // centroids — the decision equality below must not depend on
          // the model (pruning is lossless under any fixed centroid set)
          val report = IncrementalDedup.compactIndex(spark, idx,
            refreshIvfModel = true, refreshSeed = 7L)
          assert(report.contains(s"$idx/ivf"), report.toString)
        }
        kept
      }.reduce(_ ++ _)
    }
    val plain = run("embed-norefresh", Set.empty)
    val refreshed = run("embed-refresh", Set(0, 1))
    assert(plain == refreshed,
      s"missing=${plain -- refreshed} extra=${refreshed -- plain}")
    // the refreshed triple stays mutually consistent: radii cover every
    // live cell, and every vec cell points into the model
    val idx = s"${sys.props("java.io.tmpdir")}/graft_dedup_idx/embed-refresh"
    val vecsTable = IncrementalDedup.indexTableName(idx, "vecs")
    val cells = spark.table(vecsTable).select("cell").distinct()
      .collect().map(_.getInt(0)).toSet
    val radii = spark.read.parquet(indexTable(idx, "ivf", "radii").get)
      .select("cell")
      .collect().map(_.getInt(0)).toSet
    assert(cells.subsetOf(radii), s"cells $cells not covered by radii $radii")
    // the refresh preserved the bucketed layout: the cross-history join
    // still reads vecs exchange-free off the bucketed scan
    org.apache.spark.sql.graftshim.Shims.withIsolatedConf(spark,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") { iso =>
      val hist = iso.table(vecsTable).select(col("id").as("id_a"),
        col("e").as("e_a"), col("cell").as("ca"))
      import iso.implicits._
      val cellPairs = broadcast(
        (for { a <- cells; b <- cells } yield (a, b)).toSeq.toDF("ca", "cb"))
      val yb = iso.table(vecsTable).limit(50).select(col("id").as("id_b"),
        col("e").as("e_b"), col("cell").as("cb"))
      val dropped = IncrementalDedup.embedDroppedVs(hist, yb, cellPairs,
        ordered = false, threshold = 0.4)
      pinBucketedScan(dropped.queryExecution.executedPlan, "/vecs",
        wholePath = true)
      assert(dropped.count() > 0)
    }
  }

  test("embedding bucketed path equals the small-index fast path") {
    val emb = Tables.embeddings(spark, sf0001)
      .withColumn("phase", pmod(col("vec_id"), lit(3)))
    def runWith(tag: String, thresh: Long): Set[Long] = {
      val idx = IncrementalDedup.scratchIndexDir(spark, tag)
      (0 to 2).map(ph => IncrementalDedup.embedDedupAppend(spark, idx,
          emb.filter(col("phase") === ph), threshold = 0.4,
          bucketReadThresholdBytes = thresh))
        .reduce(_.unionByName(_))
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    val fast = runWith("embed-gate-fast", Long.MaxValue)
    val bucketed = runWith("embed-gate-bucketed", 0L)
    assert(fast == bucketed,
      s"missing=${fast -- bucketed} extra=${bucketed -- fast}")
  }

  test("exact + span bucketed paths equal their plain-path decisions") {
    val docs = Tables.documents(spark, sf0001)
      .withColumn("phase", pmod(col("doc_id"), lit(3)))
    // exact: init then two appends, once plain, once promoted at batch 1
    def exactRun(tag: String, thresh: Long): Set[Long] = {
      val idx = IncrementalDedup.scratchIndexDir(spark, tag)
      val r0 = IncrementalDedup.indexInit(docs.filter(col("phase") === 0), idx)
      val rs = (1 to 2).map(ph => IncrementalDedup.dedupAppend(spark, idx,
        docs.filter(col("phase") === ph),
        bucketReadThresholdBytes = thresh))
      (r0 +: rs).reduce(_.unionByName(_))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    val exactPlain = exactRun("exact-gate-plain", Long.MaxValue)
    val exactBucketed = exactRun("exact-gate-bucketed", 0L)
    assert(exactPlain == exactBucketed,
      s"missing=${exactPlain -- exactBucketed} extra=${exactBucketed -- exactPlain}")

    // span: three appends, reported spans must match exactly
    def spanRun(tag: String, thresh: Long): Set[(Long, Long, Long)] = {
      val idx = IncrementalDedup.scratchIndexDir(spark, tag)
      (0 to 2).map(ph => IncrementalDedup.spanDedupAppend(spark, idx,
          docs.filter(col("phase") === ph),
          bucketReadThresholdBytes = thresh))
        .reduce(_.unionByName(_))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val spanPlain = spanRun("span-gate-plain", Long.MaxValue)
    val spanBucketed = spanRun("span-gate-bucketed", 0L)
    assert(spanPlain == spanBucketed,
      s"missing=${spanPlain -- spanBucketed} extra=${spanBucketed -- spanPlain}")
  }

  test("a tombstone snapshot keeps the bucketed novelty scan exchange-free") {
    val docs = Tables.documents(spark, sf0001)
      .withColumn("phase", pmod(col("doc_id"), lit(3)))
    val idx = IncrementalDedup.scratchIndexDir(spark, "exact-gone-plan")
    val r0 = IncrementalDedup.indexInit(docs.filter(col("phase") === 0), idx)
    // promote immediately, then tombstone a few keepers
    IncrementalDedup.dedupAppend(spark, idx, docs.filter(col("phase") === 1),
      bucketReadThresholdBytes = 0L).collect()
    val removed = r0.filter(pmod(col("doc_id"), lit(5)) === 0).localCheckpoint()
    assert(IncrementalDedup.dedupRemove(spark, idx, removed) == removed.count())
    // the gone subtraction must ride a BROADCAST anti-join: the big
    // bucketed index side still reads pre-partitioned with zero shuffle
    val w = IncrementalDedup.winners(docs.filter(col("phase") === 2),
      "doc_id", "text")
    val plan = IncrementalDedup.keysNovel(spark, idx, w)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    // one exchange at most: the batch's winners; never the index scan
    assert(shuffles <= 1, s"index side shuffled under tombstones:\n$plan")
    assert(plan.contains("BroadcastExchange") ||
      "(?i)broadcast".r.findFirstIn(plan).isDefined,
      s"gone subtraction not broadcast:\n$plan")
    // and the decisions still reflect the tombstones end-to-end through
    // the bucketed path: every removed content re-admits exactly once
    val back = removed.withColumn("doc_id", col("doc_id") + 1000000L)
    assert(IncrementalDedup.dedupAppend(spark, idx, back,
      bucketReadThresholdBytes = 0L).count() == removed.count())
    assert(IncrementalDedup.dedupAppend(spark, idx,
      back.withColumn("doc_id", col("doc_id") + 1000000L),
      bucketReadThresholdBytes = 0L).count() == 0L)
  }

  test("span index growth is bounded by distinct windows across batches") {
    val idx = IncrementalDedup.scratchIndexDir(spark, "span-growth")
    val docs = Tables.documents(spark, sf0001).limit(50)
    IncrementalDedup.spanDedupAppend(spark, idx, docs)
    val n1 = spark.read.parquet(indexTable(idx, "grams", "grams").get).count()
    // re-sending the identical batch must not re-append its hashes
    IncrementalDedup.spanDedupAppend(spark, idx, docs)
    val n2 = spark.read.parquet(indexTable(idx, "grams", "grams").get).count()
    assert(n2 == n1, s"index grew $n1 -> $n2 on an all-duplicate batch")
    // and compactIndex on the exact + span indexes is a no-op when clean
    val report = IncrementalDedup.compactIndex(spark, idx)
    assert(report(s"$idx/grams")._1 == report(s"$idx/grams")._2)
  }

  test("durable indexes are single-writer: a second live writer fails fast") {
    import graft.util.WriterLease
    val idx = IncrementalDedup.scratchIndexDir(spark, "lease-race")
    val docs = Tables.documents(spark, sf0001).limit(20)
    IncrementalDedup.indexInit(docs, idx)
    // writer 1 holds the lease (an in-flight append); writer 2 must fail
    // FAST with a diagnosable error instead of interleaving appends with
    // a possible compaction and corrupting the only durable copy
    WriterLease.withLease(spark, idx, "holder") {
      val e = intercept[WriterLease.ConcurrentWriterException] {
        IncrementalDedup.dedupAppend(spark, idx, docs)
      }
      assert(e.getMessage.contains("single-writer"), e.getMessage)
      assert(e.getMessage.contains("holder"), e.getMessage)
    }
    // lease released on every exit path: the next append proceeds
    IncrementalDedup.dedupAppend(spark, idx, docs).collect()
    // and the lease file lives OUTSIDE the index dir, so the flat
    // parquet listing never sees it and promotion's dir swap can't
    // silently drop it
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx, ".writer.lease")))

    // a crashed writer's STALE lease is broken after the horizon: a
    // leftover lease older than staleMs must not wedge the pipeline
    val out = fs.create(
      new org.apache.hadoop.fs.Path(idx.stripSuffix("/") + ".writer.lease"),
      false)
    out.write("crashed@0\n".getBytes("UTF-8")); out.close()
    Thread.sleep(20)
    var ran = false
    WriterLease.withLease(spark, idx, "breaker", staleMs = 1L) { ran = true }
    assert(ran, "stale lease was not broken")
  }

  test("a held lease outliving the stale horizon is renewed, not broken") {
    import graft.util.WriterLease
    val idx = IncrementalDedup.scratchIndexDir(spark, "lease-renew")
    // the holder's work outlasts staleMs — the heartbeat (staleMs/4,
    // floor 250 ms) must keep the lease fresh, so a second writer
    // arriving AFTER the horizon still fails fast instead of "breaking"
    // a live writer mid-compaction (the exact corruption the lease
    // exists to prevent)
    WriterLease.withLease(spark, idx, "longhold", staleMs = 700L) {
      Thread.sleep(1200)
      val e = intercept[WriterLease.ConcurrentWriterException] {
        WriterLease.withLease(spark, idx, "late", staleMs = 700L) {
          fail("second writer broke a live, heartbeating lease")
        }
      }
      assert(e.getMessage.contains("longhold"), e.getMessage)
    }
    // released cleanly (ownership-checked delete) despite the contention
    var ran = false
    WriterLease.withLease(spark, idx, "next", staleMs = 700L) { ran = true }
    assert(ran)
  }
}
