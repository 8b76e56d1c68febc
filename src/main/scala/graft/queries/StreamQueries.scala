package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.QueryCacheConfig
import graft.cache.MemoryQueryCache
import graft.log.RecordingLog
import graft.sources.Tables
import graft.streaming.{CacheWarmer, StreamingAgg, StreamingDedup, StreamingJoin}

/** Structured Streaming scenarios as driver-checkable queries (SURVEY
  * §7.6 mode (b)): each runs a real `readStream → writeStream` pipeline
  * with `Trigger.AvailableNow` over the static test parquet, then returns
  * the sink's final table — which a plain batch SQL oracle over the same
  * parquet must reproduce exactly (the reference's demo differential,
  * examples/demo.rs:28-50, applied to the streaming mode).
  *
  * AvailableNow processes exactly the files present at start and
  * terminates, so the streaming result over a static table is the batch
  * answer — same contract as the batch cache's cold run. At scale the
  * identical pipeline tails an append-only directory with the default
  * continuous trigger; nothing below is test-only plumbing.
  */
object StreamQueries {

  /** stable per-(query, sf) memory-sink name: re-runnable in one session
    * (a finished AvailableNow query releases its name; the sink table is
    * replaced on restart) */
  private def sinkName(tag: String, sfDir: String): String =
    s"graft_stream_${tag}_${new java.io.File(sfDir).getName.replace('.', '_')}"

  /** Stateful-stream shuffle partitioning derived from SOURCE SIZE, not
    * cluster width (optimization guide §2: scale-adaptive partitioning —
    * a constant tuned for either local mode or the cluster is wrong at
    * the other end). Each shuffle partition of a stateful operator is a
    * state-store instance whose per-micro-batch commit (delta file
    * create + rename into the checkpoint) is pure fixed cost: a
    * stream-stream join keeps 4 stores per partition, so a 32-partition
    * session pays 128 commits per batch to process a few-MB fixture —
    * measured 194 s of summed commit time per batch vs 1.7 s at 4
    * partitions on identical data (r13). Sizing:
    * ceil(bytes / 32 MB), clamped to [2, session shuffle partitions] —
    * a 100 TB source hits the session cap (the configured production
    * parallelism, unchanged), a dev fixture gets 2. The state-store
    * count is pinned into the checkpoint at first run, exactly like a
    * production job sizes it per expected state volume. */
  private def adaptivePartitions(spark: SparkSession, sfDir: String,
      tables: String*): Int = {
    val bytes = tables.map { t =>
      try {
        val p = new org.apache.hadoop.fs.Path(s"$sfDir/$t.parquet")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case scala.util.control.NonFatal(_) => 0L }
    }.sum
    val cap = spark.sessionState.conf.numShufflePartitions
    math.max(2L, math.min(cap.toLong, bytes / (32L << 20) + 1)).toInt
  }

  /** Isolated child session for a streaming scenario (own SQLConf,
    * shared context — the caller's session is never mutated) with
    * [[adaptivePartitions]] applied for its stateful shuffles. */
  private def isoStream(spark: SparkSession, sfDir: String,
      tables: String*): SparkSession = {
    val iso = spark.newSession()
    iso.conf.set("spark.sql.shuffle.partitions",
      adaptivePartitions(spark, sfDir, tables: _*))
    iso
  }

  /** Run `f` with the legacy nanos conf set, restoring the caller's
    * value (or unset state) after — stream scenarios must not leave a
    * persistent conf mutation on the SHARED session (VERDICT r5 #5).
    * The conf must hold for the whole region from `readStream` through
    * query completion: the parquet→catalyst conversion happens per file
    * at scan time, not just at schema inference. */
  private def withNanosConf[T](spark: SparkSession, sfDir: String)(
      f: SparkSession => T): T = {
    // an ISOLATED child session (own SQLConf, shared context): the
    // caller's session is never mutated, and concurrent batch/stream
    // work can neither observe the flag nor race a set/restore pair
    // (interleaved save/restores on a shared session can corrupt the
    // conf permanently — same reasoning as Shims.withIsolatedConf).
    // The memory sink's temp view registers in the child, so results
    // are read back through it. All withNanosConf scenarios stream the
    // events table; state partitioning follows its size (see
    // adaptivePartitions).
    val iso = isoStream(spark, sfDir, "events")
    iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    f(iso)
  }

  /** events as an unbounded source: the static raw schema (probed from
    * the batch reader — nanos LONG under the legacy conf, or NTZ micros
    * on newer data) feeds `readStream`, normalized to microsecond
    * timestamps exactly like the batch reader so stream and oracle agree
    * (Tables.normalizeEventsTs). Callers must hold [[withNanosConf]]
    * around both this call and the stream's run. */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = spark.read.parquet(s"$sfDir/events.parquet").schema
    Tables.normalizeEventsTs(
      spark.readStream.schema(raw)
        .parquet(Tables.streamableDir(spark, sfDir, "events")))
  }

  /** Canonical-micros staging of the events table PLUS a sentinel
    * error/click pair one day past the fixture on out-of-band users
    * (-1/-2): the sentinel advances both streams' watermarks beyond
    * every real row so stream-stream OUTER join state fully evicts and
    * the null-extended tail emits before AvailableNow terminates —
    * the bounded-run stand-in for tomorrow's traffic. Rebuilt per run
    * (cheap, and immune to fixture regeneration). The sentinel file is
    * appended after the data file so oldest-first file ordering can
    * never put the watermark ahead of unprocessed real rows even if
    * the source ever splits the run into multiple batches. */
  private def sentinelEventsDir(spark: SparkSession, sfDir: String): String = {
    val sfTag = new java.io.File(sfDir).getName
    val dir = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), "graft_stream", sfTag, "events_outer")
      .toString
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val ev = Tables.events(spark, sfDir)
    ev.write.parquet(dir)
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 86400000L)
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(-1L, sentinelTs, -1L, "error", 0.0, ""),
      org.apache.spark.sql.Row(-2L, sentinelTs, -2L, "click", 0.0, ""))
    spark.createDataFrame(rows, ev.schema).write.mode("append").parquet(dir)
    dir
  }

  /** documents split into one parquet file per phase (doc_id mod 3),
    * mtimes pinned ascending so the file stream replays the corpus as
    * three ordered micro-batches. Rebuilt per run. */
  /** Write each phase DataFrame as ONE parquet file `phase_<i>.parquet`
    * under `dirPath`, mtimes pinned ascending, so a file stream with
    * maxFilesPerTrigger=1 replays them as ordered micro-batches.
    * Rebuilds the directory from scratch. */
  private def writePhasedFiles(spark: SparkSession,
      dirPath: java.nio.file.Path, phases: Seq[DataFrame]): String = {
    val p = new org.apache.hadoop.fs.Path(dirPath.toString)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    java.nio.file.Files.createDirectories(dirPath)
    phases.zipWithIndex.foreach { case (df, ph) =>
      val tmp = dirPath.resolve(s"stage_$ph")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = dirPath.resolve(s"phase_$ph.parquet")
      java.nio.file.Files.move(part.toPath, target)
      fs.delete(new org.apache.hadoop.fs.Path(tmp.toString), true)
      java.nio.file.Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime
          .fromMillis(1000000000000L + ph * 60000L))
    }
    dirPath.toString
  }

  private def phasedDocsDir(spark: SparkSession, sfDir: String): String = {
    val sfTag = new java.io.File(sfDir).getName
    val dir = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), "graft_stream", sfTag, "docs_phased")
    val docs = Tables.documents(spark, sfDir)
      .withColumn("phase", pmod(col("doc_id"), lit(3)))
    writePhasedFiles(spark, dir,
      (0 to 2).map(ph => docs.filter(col("phase") === ph)))
  }

  /** CDC-style BM25 mutation stream: phase 0 = a stale third of the
    * corpus (op=upsert), phase 1 = the full truth (op=upsert — corrects
    * the stale docs, adds the rest), phase 2 = a %7 takedown
    * (op=delete). One parquet file per phase, mtimes ascending so the
    * file stream replays them as ordered micro-batches. Rebuilt per
    * run. */
  private def bm25MutationStreamDir(spark: SparkSession,
      sfDir: String): String = {
    val sfTag = new java.io.File(sfDir).getName
    val dir = java.nio.file.Paths
      .get(sys.props("java.io.tmpdir"), "graft_stream", sfTag, "bm25_cdc")
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val phases: Seq[DataFrame] = Seq(
      docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .withColumn("text",
          concat(lit("stale "), substring(col("text"), 1, 24)))
        .withColumn("op", lit("upsert")),
      docs.withColumn("op", lit("upsert")),
      docs.filter(pmod(col("doc_id"), lit(7)) === 0)
        .withColumn("text", lit(""))
        .withColumn("op", lit("delete")))
    writePhasedFiles(spark, dir, phases.zipWithIndex.map {
      case (df, ph) => df.withColumn("phase", lit(ph.toLong))
    })
  }

  private def runToCompletion(df: DataFrame, name: String,
      mode: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** exact decimal sum rendered as double — the driver-hashable
    * representation (shared rule: queries.Render) */
  private def dsum(c: org.apache.spark.sql.Column) = Render.dsumd(c, 4)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // windowed streaming aggregation (StreamingAgg.windowedAgg): per-hour
    // per-type counts/sums with a watermark, complete-mode sink. Complete
    // mode emits every window at termination — over a static table that
    // is exactly the batch GROUP BY date_trunc('hour') answer.
    "q_stream_hourly" -> ((s, d) => withNanosConf(s, d) { iso =>
      val name = sinkName("hourly", d)
      val agg = StreamingAgg.windowedAgg(
        eventsStream(iso, d), "ts", "1 hour", watermarkDelay = "10 minutes",
        groupCols = Seq(col("event_type")),
        aggCols = Seq(
          count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value"),
          max(col("value")).as("max_value")))
      runToCompletion(agg, name, mode = "complete")
      iso.table(name).select(
        col("window.start").as("hour"), col("event_type"),
        col("cnt"), col("sum_value"), col("max_value"))
    }),

    // session windows (StreamingAgg.sessionAgg): per-user activity bursts
    // separated by ≥30 min of silence — the data-dependent window shape
    // date_trunc buckets cannot express. Complete mode emits every closed
    // and open session at termination; the batch oracle reconstructs the
    // same sessions with a lag()-gap window function (a new session starts
    // when the gap to the previous event is ≥ the gap parameter, matching
    // Spark's [ts, ts+gap) overlap-merge semantics).
    "q_stream_session" -> ((s, d) => withNanosConf(s, d) { iso =>
      val name = sinkName("session", d)
      val agg = StreamingAgg.sessionAgg(
        eventsStream(iso, d), "ts", gap = "30 minutes",
        watermarkDelay = "10 minutes",
        keyCols = Seq(col("user_id")),
        aggCols = Seq(
          count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value")))
      runToCompletion(agg, name, mode = "complete")
      iso.table(name).select(
        col("session_window.start").as("session_start"), col("user_id"),
        col("cnt"), col("sum_value"))
    }),

    // stream-static enrichment join: the unbounded event stream joined to
    // a batch dimension table (stateless per-row enrichment — THE join
    // shape of a streaming ingest pipeline; the dim is re-read per batch,
    // broadcast by Catalyst), aggregated in complete mode. Over a static
    // table the final sink equals the batch join+aggregate.
    "q_stream_join" -> ((s, d) => withNanosConf(s, d) { iso =>
      val name = sinkName("join", d)
      val joined = eventsStream(iso, d)
        .join(Tables.customer(iso, d), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
      runToCompletion(joined, name, mode = "complete")
      iso.table(name).select(col("c_mktsegment"), col("cnt"), col("sum_value"))
    }),

    // stream-STREAM watermarked interval join (symmetric hash join, state
    // bounded by the 30-min lookback on both sides): every error event
    // matched to the same user's clicks in the preceding half hour — the
    // attribution shape. Raw pairs land in the append-mode sink; the
    // deterministic per-user rollup of that sink equals the batch
    // interval self-join.
    "q_stream_join2" -> ((s, d) => withNanosConf(s, d) { iso =>
      val name = sinkName("join2", d)
      val errors = eventsStream(iso, d)
        .filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      val clicks = eventsStream(iso, d)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("c_value"))
      val joined = StreamingJoin.interval(errors, clicks,
        key = (col("e_user"), col("c_user")),
        leftTs = "e_ts", rightTs = "c_ts",
        lookback = "30 MINUTES", watermarkDelay = "10 minutes")
      runToCompletion(joined, name, mode = "append")
      iso.table(name).groupBy(col("e_user").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"), dsum(col("c_value")).as("sum_click_value"))
    }),

    // stream-STREAM LEFT OUTER interval join: same attribution condition
    // as q_stream_join2, but errors with NO preceding click must emit a
    // null-extended row. Outer results only flush when the watermark
    // proves no match can arrive, so the staged feed carries a sentinel
    // pair far past the fixture (user_id < 0, outside the real key
    // space) — the no-data micro-batch after it evicts every real error
    // from state and emits the complete outer set. Rollup over the
    // append sink (sentinels filtered) equals the batch LEFT JOIN.
    "q_stream_join3" -> ((s, d) => {
      val iso = isoStream(s, d, "events")
      val name = sinkName("join3", d)
      val dir = sentinelEventsDir(iso, d)
      val schema = iso.read.parquet(dir).schema
      def stream() = iso.readStream.schema(schema).parquet(dir)
      val errors = stream().filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      val clicks = stream().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("c_value"))
      val joined = StreamingJoin.intervalOuter(errors, clicks,
        key = (col("e_user"), col("c_user")),
        leftTs = "e_ts", rightTs = "c_ts",
        lookback = "30 MINUTES", watermarkDelay = "10 minutes")
      runToCompletion(joined, name, mode = "append")
      iso.table(name).filter(col("e_user") >= 0)
        .groupBy(col("e_user").as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("c_ts")).as("n_matched"),
          dsum(col("c_value")).as("sum_click_value"))
    }),

    // stream-STREAM FULL OUTER interval join — completes the matrix
    // (inner = join2, left outer = join3): unmatched rows of BOTH sides
    // null-extend — errors with no preceding click AND clicks never
    // attributed to any error. Each side's outer tail flushes when the
    // OTHER side's watermark passes it, so the sentinel pair (error -1,
    // click -2, +1 day) advances both watermarks past the fixture and
    // the no-data micro-batch evicts every real row. require()s pin that
    // both null-extension directions actually reached the sink; the
    // rollup keys on coalesce(e_user, c_user) so the batch FULL JOIN
    // reproduces it exactly.
    "q_stream_join4" -> ((s, d) => {
      val iso = isoStream(s, d, "events")
      val name = sinkName("join4", d)
      val dir = sentinelEventsDir(iso, d)
      val schema = iso.read.parquet(dir).schema
      def stream() = iso.readStream.schema(schema).parquet(dir)
      val errors = stream().filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      val clicks = stream().filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("value").as("c_value"))
      val joined = StreamingJoin.intervalFullOuter(errors, clicks,
        key = (col("e_user"), col("c_user")),
        leftTs = "e_ts", rightTs = "c_ts",
        lookback = "30 MINUTES", watermarkDelay = "10 minutes")
      runToCompletion(joined, name, mode = "append")
      val sink = iso.table(name)
      require(sink.filter(col("c_ts").isNull && col("e_user") >= 0)
        .limit(1).count() > 0, "no error-side null extension reached the sink")
      require(sink.filter(col("e_ts").isNull && col("c_user") >= 0)
        .limit(1).count() > 0, "no click-side null extension reached the sink")
      sink.filter(coalesce(col("e_user"), col("c_user")) >= 0)
        .groupBy(coalesce(col("e_user"), col("c_user")).as("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("e_ts")).as("n_err"),
          count(col("c_ts")).as("n_clk"),
          dsum(col("c_value")).as("sum_click_value"))
    }),

    // STREAMING INGESTION × the durable span index: the corpus arrives
    // as three ordered micro-batches (one phase file per trigger);
    // foreachBatch runs IncrementalDedup.spanDedupAppend against one
    // persistent index, so each batch's duplicated spans are judged
    // against all earlier history without rescanning it — the
    // continuous-ingestion shape of q_dedup_incr_spans, and the same
    // oracle. require()s pin the file→batch mapping the determinism
    // rests on (one phase per micro-batch, in mtime order).
    "q_stream_spans" -> ((s, d) => {
      val iso = isoStream(s, d, "documents")
      val dir = phasedDocsDir(iso, d)
      val idx = graft.operators.IncrementalDedup.scratchIndexDir(iso,
        "stream_spans_" + new java.io.File(d).getName)
      val raw = iso.read.parquet(dir).schema
      val buf = new scala.collection.mutable.ArrayBuffer[
        (Long, Long, Long, Long)]()
      val q = iso.readStream.schema(raw)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          val phases = batch.select(col("phase")).distinct()
            .collect().map(_.getLong(0))
          require(phases.toSeq == Seq(batchId),
            s"batch $batchId carried phases ${phases.mkString(",")}")
          graft.operators.IncrementalDedup
            .spanDedupAppend(iso, idx, batch)
            .collect().foreach(r => buf.synchronized {
              buf += ((r.getLong(0), r.getLong(1), r.getLong(2), batchId))
            })
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(buf.nonEmpty, "no spans surfaced across the stream")
      import iso.implicits._
      buf.toSeq.toDF("doc_id", "span_start", "span_end", "phase")
    }),

    // STREAMING INGESTION × the BM25 index MUTATION story: a CDC-style
    // doc stream arrives as three ordered micro-batches — a stale third,
    // the full-corpus truth (an upsert correcting the stale docs and
    // adding the rest), and a %7 takedown (delete) — and foreachBatch
    // drives bm25Upsert / bm25Delete against ONE persistent inverted
    // index, so each tick re-indexes exactly the novel+changed docs and
    // never rescans earlier batches. Final scores come from the index
    // alone (no document text touched) and must equal the one-shot
    // LIVE-corpus replay — q_text_bm25_upsert's oracle verbatim: the
    // batch variant's extra replayed delete is a no-op, so the end index
    // states coincide (additive stats, max-ver liveness).
    "q_stream_bm25" -> ((s, d) => {
      val iso = isoStream(s, d, "documents")
      val dir = bm25MutationStreamDir(iso, d)
      val idx = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_stream", new java.io.File(d).getName, "bm25idx_stream")
        .toString
      val ip = new org.apache.hadoop.fs.Path(idx)
      val ifs = ip.getFileSystem(iso.sparkContext.hadoopConfiguration)
      if (ifs.exists(ip)) ifs.delete(ip, true)
      val raw = iso.read.parquet(dir).schema
      val q = iso.readStream.schema(raw)
        .option("maxFilesPerTrigger", 1).parquet(dir)
        .writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
          val phases = batch.select(col("phase")).distinct()
            .collect().map(_.getLong(0))
          require(phases.toSeq == Seq(batchId),
            s"batch $batchId carried phases ${phases.mkString(",")}")
          val ops = batch.select(col("op")).distinct()
            .collect().map(_.getString(0)).toSeq
          if (ops == Seq("delete"))
            graft.operators.IncrementalText.bm25Delete(iso, idx,
              batch.select(col("doc_id")))
          else {
            require(ops == Seq("upsert"),
              s"mixed ops $ops in batch $batchId")
            graft.operators.IncrementalText.bm25Upsert(iso, idx,
              batch.select(col("doc_id"), col("text")))
          }
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      graft.operators.IncrementalText.bm25FromIndex(iso, idx,
        queryTerms = Seq("spark", "hash", "window"), topK = 15)
    }),

    // custom keyed state (flatMapGroupsWithState): emit only the FIRST
    // document per content fingerprint. The single-file fixture arrives
    // as ONE micro-batch, and firstSeen picks min(doc_id) within a batch,
    // so the emitted set is deterministic: exactly the batch
    // min-id-per-distinct-text survivors.
    "q_stream_first" -> ((s, d) => {
      val iso = isoStream(s, d, "documents")
      val name = sinkName("first", d)
      val first = StreamingDedup.firstSeen(Tables.documentsStream(iso, d))
      runToCompletion(first.toDF().select("doc_id", "text"), name,
        mode = "append")
      iso.table(name).select(col("doc_id"), col("text"))
    }),

    // watermark-bounded built-in dedup (StreamingDedup
    // .byFingerprintWithinWatermark → dropDuplicatesWithinWatermark):
    // state for expired keys is dropped, so state size is O(keys per
    // horizon) — the unbounded-stream shape. Over a static table under
    // AvailableNow everything lands in one batch (the watermark only
    // advances at its end), so exactly one row per distinct key is
    // emitted. WHICH copy wins depends on arrival order, so the sink
    // aggregation touches only KEY-derived columns — per-type distinct
    // user counts — which the batch oracle reproduces exactly.
    "q_stream_dedup_wm" -> ((s, d) => withNanosConf(s, d) { iso =>
      val name = sinkName("dedupwm", d)
      val keyed = eventsStream(iso, d).withColumn("text",
        concat_ws("|", col("event_type"), col("user_id")))
      val deduped = StreamingDedup.byFingerprintWithinWatermark(
        keyed, horizon = "1 hour")
      runToCompletion(deduped.select("event_type", "user_id"), name,
        mode = "append")
      iso.table(name).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // append-RESUME: the cache's cold→append→warm cycle in engine form
    // (the reference demo differential, examples/demo.rs:28-50). Trigger 1
    // aggregates the first ~60% of events under a PERSISTENT checkpoint;
    // the remaining files are appended; trigger 2 restarts from the same
    // checkpoint — the FileStreamSource log skips the already-processed
    // files and the state store supplies the prior partials, so only the
    // appended rows are read (require()d below) yet the complete-mode
    // sink equals batch SQL over the FULL table. Memory-sink checkpoint
    // recovery is legal exactly in complete mode; at scale the same
    // pipeline writes to a real sink in update mode with the identical
    // checkpoint contract.
    "q_stream_resume" -> ((s, d) => withNanosConf(s, d) { iso =>
      val name = sinkName("resume", d)
      // deterministic per-sf staging root, WIPED at the start of each
      // run: the scenario needs a fresh checkpoint every time, and a
      // bounded dir (one copy per sf) instead of an accumulating
      // createTempDirectory leak across bench reps
      val base = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_resume", new java.io.File(d).getName)
      def wipe(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(wipe)
        f.delete(): Unit
      }
      wipe(base.toFile)
      java.nio.file.Files.createDirectories(base)
      val work = base.resolve("events").toString
      val chk = base.resolve("chk").toString
      // the staged files keep the RAW ts representation (nanos LONG under
      // the legacy conf, or NTZ micros) so both triggers re-read it; the
      // 60th-percentile split is computed domain-agnostically on a long
      // rendering of ts and filtered with the same expression
      val raw = iso.read.parquet(s"$d/events.parquet")
      val rawTsLong =
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType) col("ts")
        else unix_micros(col("ts").cast("timestamp"))
      val splitNs = raw.select(
          percentile_approx(rawTsLong, lit(0.6), lit(10000)).cast("long"))
        .first().getLong(0)
      val rawSchema = raw.schema
      def agg() = StreamingAgg.windowedAgg(
        Tables.normalizeEventsTs(iso.readStream.schema(rawSchema).parquet(work)),
        "ts", "1 hour", watermarkDelay = "10 minutes",
        groupCols = Seq(col("event_type")),
        aggCols = Seq(
          count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value")))
      def trigger(): Long = {
        val q = agg().writeStream.format("memory").queryName(name)
          .outputMode("complete").option("checkpointLocation", chk)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress.map(_.numInputRows).sum
      }
      raw.filter(rawTsLong < splitNs).write.parquet(work)
      trigger()
      val partial = iso.table(name).agg(sum(col("cnt"))).first().getLong(0)
      raw.filter(rawTsLong >= splitNs).write.mode("append").parquet(work)
      val lateRows = raw.filter(rawTsLong >= splitNs).count()
      val resumedInput = trigger()
      require(resumedInput == lateRows,
        s"trigger 2 read $resumedInput rows, expected only the $lateRows " +
          "appended rows — checkpointed state was not resumed")
      val total = iso.table(name).agg(sum(col("cnt"))).first().getLong(0)
      require(partial < total,
        s"trigger 1 state ($partial rows) not visible in final total $total")
      iso.table(name).select(
        col("window.start").as("hour"), col("event_type"),
        col("cnt"), col("sum_value"))
    }),

    // STREAM-WARMED CACHE (CacheWarmer): the bridge between the two
    // halves of the library. A file stream over the fact directory is
    // the change DETECTOR; each micro-batch tick re-runs the registered
    // aggregate through the incremental cache at now = batch hwm + 1, so
    // the warm path merges exactly the newly arrived band into state.
    // The interactive query afterwards is a pure state replay (empty
    // delta band) — at 100 TB it reads KBs of state, not fact data. The
    // require()s pin the contract: tick 1 cold, tick 2 a watermark hit,
    // the interactive answer another hit, and trigger 2's detector read
    // only the appended files (file-source checkpoint resume).
    // stream-warmed DASHBOARD: same CacheWarmer contract, but the
    // registered query carries the heavy dashboard aggregates —
    // percentile (run-length histogram state) and grouped top-k
    // (heap-union state) — with the explode parent re-run over replayed
    // state. Proves the round-7 mergeable states survive the streaming
    // tick cycle end-to-end, not just the batch coldAppendWarm path.
    "q_stream_dashboard" -> ((s, d) => {
      val (work, _, appendRest) = CacheQueries.splitWrite(s, d, "streamdash")
      val chk = work.stripSuffix("/") + "_chk"
      val chkPath = new org.apache.hadoop.fs.Path(chk)
      val fs = chkPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(chkPath)) { fs.delete(chkPath, true); () }
      val log = new RecordingLog
      val cfg = QueryCacheConfig(new MemoryQueryCache,
        defaultTemporalColumn = "ts", log = log)
      def dashQ() = s.read.parquet(work)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"),
          graft.functions.functions.top_k(
            struct(col("value").as("value"), col("event_id").as("event_id")),
            3).as("top"))
        .select(col("event_type"), col("cnt"), col("p50"), col("p90"),
          explode(col("top")).as("t"))
        .select(col("event_type"), col("cnt"), col("p50"), col("p90"),
          col("t.value").as("value"), col("t.event_id").as("event_id"))
      val warmer = new CacheWarmer(s, cfg, Seq(() => dashQ()))
      def trigger(): Unit = {
        val q = warmer.attach(CacheWarmer.tickSource(s, work, "ts"), chk)
        q.awaitTermination()
      }
      trigger()
      require(log.messages.exists(_.contains("cache miss")),
        "tick 1 should have run cold")
      appendRest()
      trigger()
      require(log.messages.exists(_.contains("cache hit")),
        "tick 2 should have merged into cached state")
      val hitsBefore = log.messages.count(_.contains("cache hit"))
      val out = warmer.interactive(dashQ())
      out.collect()
      require(log.messages.count(_.contains("cache hit")) > hitsBefore,
        "interactive dashboard should answer from warmed state")
      out
    }),

    "q_stream_cache_warm" -> ((s, d) => {
      val (work, _, appendRest) = CacheQueries.splitWrite(s, d, "cachewarm")
      val chk = work.stripSuffix("/") + "_chk"
      val chkPath = new org.apache.hadoop.fs.Path(chk)
      val fs = chkPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(chkPath)) { fs.delete(chkPath, true); () }
      val log = new RecordingLog
      val cfg = QueryCacheConfig(new MemoryQueryCache,
        defaultTemporalColumn = "ts", log = log)
      def aggQ() = s.read.parquet(work)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          dsum(col("value")).as("sum_value"),
          max(col("value")).as("max_value"))
      val warmer = new CacheWarmer(s, cfg, Seq(() => aggQ()))
      def trigger(): Long = {
        val q = warmer.attach(CacheWarmer.tickSource(s, work, "ts"), chk)
        q.awaitTermination()
        q.recentProgress.map(_.numInputRows).sum
      }
      trigger()
      require(log.messages.exists(_.contains("cache miss")),
        "tick 1 should have run cold")
      appendRest()
      val appended = trigger()
      val total = s.read.parquet(work).count()
      require(appended > 0 && appended < total,
        s"trigger 2 read $appended of $total rows — expected only the " +
          "appended files (checkpoint resume) and at least one")
      require(log.messages.exists(_.contains("cache hit")),
        "tick 2 should have merged into cached state")
      val hitsBefore = log.messages.count(_.contains("cache hit"))
      val out = warmer.interactive(aggQ())
      out.collect()
      require(log.messages.count(_.contains("cache hit")) > hitsBefore,
        "interactive query should answer from warmed state")
      out
    }),

    // stateful streaming dedup (StreamingDedup.byFingerprint): exact
    // dedup state over the document stream, append-mode sink. The sink
    // holds one survivor per distinct content; survivors' text is
    // identical within a duplicate group, so aggregating over TEXT is
    // deterministic regardless of which copy the stream saw first —
    // and equals batch SELECT DISTINCT text.
    "q_stream_dedup" -> ((s, d) => {
      val iso = isoStream(s, d, "documents")
      val name = sinkName("dedup", d)
      val deduped = StreamingDedup.byFingerprint(Tables.documentsStream(iso, d))
      runToCompletion(deduped.select("doc_id", "text"), name, mode = "append")
      val len = length(col("text")).cast("long")
      iso.table(name).agg(
        count(lit(1)).as("n_unique"),
        sum(len).as("total_chars"),
        min(len).as("min_chars"),
        max(len).as("max_chars"))
    }),

    // streaming heavy hitters: the Misra-Gries summary as a windowed
    // streaming aggregate — its buffer serializes into the state store
    // between micro-batches and merges with the mergeable-summaries
    // operation, so per-window state stays O(k) no matter how many items
    // the stream carries. Exact regime here (≤5 event types per hour <
    // k=8): the summary never shrinks, cnt == true count == ub, and the
    // exploded rows are the plain per-(hour, type) counts the batch
    // oracle reproduces.
    "q_stream_freq" -> ((s, d) => withNanosConf(s, d) { iso =>
      import graft.functions.functions.heavy_hitters
      val name = sinkName("freq", d)
      val agg = StreamingAgg.windowedAgg(
        eventsStream(iso, d), "ts", "1 hour", watermarkDelay = "10 minutes",
        groupCols = Seq.empty,
        aggCols = Seq(heavy_hitters(col("event_type"), 8).as("hh")))
      runToCompletion(agg, name, mode = "complete")
      iso.table(name)
        .select(col("window.start").as("hour"), explode(col("hh")).as("e"))
        .select(col("hour"), col("e.item").as("event_type"),
          col("e.cnt").as("cnt"), col("e.ub").as("ub"))
    })
  )

  val oracle: Map[String, String] = Map(
    // exact regime (hourly event_type domain < k): summary rows ARE the
    // per-(hour, type) counts, with zero accumulated error (ub = cnt)
    "q_stream_freq" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type, count(*) AS cnt, count(*) AS ub
         FROM events GROUP BY 1, 2""",
    "q_stream_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           max(value) AS max_value
         FROM events GROUP BY 1, 2""",
    "q_stream_session" ->
      """WITH marked AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts)
         ), sessions AS (
           SELECT *, sum(new_session) OVER
             (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING)
             AS session_id
           FROM marked
         )
         SELECT CAST(min(ts) AS TIMESTAMP) AS session_start, user_id,
           count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM sessions GROUP BY user_id, session_id""",
    "q_stream_join" ->
      """SELECT c_mktsegment, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY 1""",
    "q_stream_join2" ->
      """SELECT e.user_id AS user_id, count(*) AS n_pairs,
           CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_click_value
         FROM events e JOIN events c
           ON e.user_id = c.user_id
          AND e.event_type = 'error' AND c.event_type = 'click'
          AND c.ts >= e.ts - INTERVAL 30 MINUTE AND c.ts <= e.ts
         GROUP BY 1""",
    // left-outer replay: unmatched errors survive as null-extended rows
    // (count(c.ts) skips them, sum stays NULL for all-null groups on
    // both engines); the stream's sentinel users are < 0 and filtered
    // before the rollup, so the real-user set matches exactly
    "q_stream_join3" ->
      """SELECT e.user_id AS user_id, count(*) AS n_rows,
           count(c.ts) AS n_matched,
           CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_click_value
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id
          AND c.ts >= e.ts - INTERVAL 30 MINUTE AND c.ts <= e.ts
         GROUP BY 1""",
    // full outer: both null-extension directions in one rollup keyed on
    // whichever side is present
    "q_stream_join4" ->
      """SELECT coalesce(e.user_id, c.user_id) AS user_id,
           count(*) AS n_rows,
           count(e.ts) AS n_err,
           count(c.ts) AS n_clk,
           CAST(sum(CAST(c.value AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_click_value
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON e.user_id = c.user_id
          AND c.ts >= e.ts - INTERVAL 30 MINUTE AND c.ts <= e.ts
         GROUP BY 1""",
    "q_stream_first" ->
      """SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text""",
    // streamed span index == the batched incremental phases: the stream
    // replays the same three batches, so the batch oracle applies verbatim
    "q_stream_spans" -> PipelineQueries.oracle("q_dedup_incr_spans"),
    // the streamed mutation sequence ends at the same live index as the
    // batched upsert cycle, so its oracle applies verbatim
    "q_stream_bm25" -> PipelineQueries.oracle("q_text_bm25_upsert"),
    // the stream-warmed cache must answer exactly the batch aggregate
    // over the FULL table (cold capture + streamed warm band + state
    // replay == one-shot GROUP BY)
    // stream-warmed dashboard == one-shot batch dashboard over the full
    // table: quantile_cont matches Spark's percentile after round-6 (the
    // qc_incr_percentile equivalence), top-3 replayed as row_number
    "q_stream_dashboard" ->
      """WITH agg AS (
           SELECT event_type, count(*) AS cnt,
             round(quantile_cont(value, 0.5), 6) AS p50,
             round(quantile_cont(value, 0.9), 6) AS p90
           FROM events GROUP BY 1),
         ranked AS (
           SELECT event_type, value, event_id,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id DESC) AS rn
           FROM events)
         SELECT a.event_type, a.cnt, a.p50, a.p90, r.value, r.event_id
         FROM agg a JOIN ranked r ON a.event_type = r.event_type
         WHERE r.rn <= 3""",
    "q_stream_cache_warm" ->
      """SELECT event_type, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           max(value) AS max_value
         FROM events GROUP BY 1""",
    "q_stream_resume" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
           event_type, count(*) AS cnt,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q_stream_dedup_wm" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1""",
    "q_stream_dedup" ->
      """SELECT count(*) AS n_unique,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(min(length(text)) AS BIGINT) AS min_chars,
           CAST(max(length(text)) AS BIGINT) AS max_chars
         FROM (SELECT DISTINCT text FROM documents)"""
  )
}
