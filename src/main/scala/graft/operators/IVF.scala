package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.functions.{cosine_similarity, nearest_centroid}

/** IVF (inverted-file) approximate nearest neighbor index: vectors are
  * assigned to their nearest of `k` centroids; a query probes only the
  * `nProbe` cells nearest to it.
  *
  * Scale design: `fit` trains on a bounded driver-side sample (spherical
  * k-means, a few Lloyd iterations — the classic IVF recipe); assignment
  * is one native expression per row in a narrow map stage; the indexed
  * table is written `partitionBy("ivf_cell")` so a probe reads only
  * nProbe/k of the files via partition pruning — at 100 TB the query cost
  * is proportional to cells probed, not corpus size. Recall/cost tune via
  * (k, nProbe).
  */
object IVF {

  final case class Model(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Process-wide memo for per-corpus ANN statistics (fit models and
    * per-cell angular radii), so repeated calls — the ANN-as-a-service
    * shape, many queries against one indexed corpus — skip the sample
    * collect / radii aggregation jobs after the first call.
    *
    * Key = corpus fingerprint: the canonicalized plan fingerprint
    * (source paths + schema + in-memory data hashes, graft.analysis
    * .Fingerprint) extended with the CURRENT input file list, so an
    * append to the same directory is a different corpus and recomputes.
    * (An in-place rewrite that keeps every file path is not detected —
    * parquet files are immutable in every real layout.) Bounded: cleared
    * wholesale past 256 entries; recomputing costs one aggregation.
    *
    * Durable layer (opt-in, [[IVF.enableDurableStats]]): a directory —
    * any Hadoop-visible filesystem — holding one small binary file per
    * memo key, consulted on in-process miss and written on compute, so a
    * restarted service (the fit is deterministic but costs a sample
    * collect + k-means, the radii a full corpus aggregation) re-loads
    * stats instead of re-deriving them. Files are written to a temp name
    * and renamed, and a stale/corrupt file is treated as a miss.
    * RDD-backed corpora (localCheckpoint / createDataset) never touch
    * the durable layer: their memo key embeds process-local RDD ids,
    * which reset on restart, so a persisted entry could be reloaded for
    * a DIFFERENT corpus that happens to reuse the same id. */
  private object StatsMemo {
    private val models =
      new java.util.concurrent.ConcurrentHashMap[String, Model]()
    private val radii =
      new java.util.concurrent.ConcurrentHashMap[String, Map[Int, Double]]()

    /** memo key + durable eligibility. RDD ids are process-local (small
      * sequential ints that reset on restart) and same-schema LogicalRDD
      * leaves canonicalize identically, so a key containing `rdds=` from a
      * PREVIOUS process could collide with a DIFFERENT corpus in this one
      * — RDD-backed corpora therefore stay in the in-process memo only
      * (durable = false), where the id IS the data identity. */
    def corpusKey(df: DataFrame, extra: String): (String, Boolean) = {
      val analyzed =
        org.apache.spark.sql.graftshim.Shims.queryExecution(df).analyzed
      val files = df.inputFiles
      // RDD-backed leaves (localCheckpoint / createDataset) have no file
      // paths and canonicalize identically for same-schema corpora — the
      // RDD id is their data identity (same checkpoint = same data), and
      // without it two such corpora would share a memo entry
      val rddIds = analyzed.collectLeaves().collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
      }
      val key = graft.cache.QueryCache.keyHash(
        graft.analysis.Fingerprint.of(analyzed) +
          s":files=${files.length}:${files.toSeq.hashCode}" +
          s":rdds=${rddIds.mkString(",")}:$extra")
      (key, rddIds.isEmpty)
    }

    @volatile private var durableDir: Option[String] = None
    def setDurable(dir: Option[String]): Unit = { durableDir = dir }
    /** test hook: simulate a process restart (durable layer untouched) */
    private[graft] def clearProcessMemo(): Unit = { models.clear(); radii.clear() }

    private def hadoopFs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** best-effort durable write: temp file + rename; failures are
      * swallowed (the durable layer can only ever save work, not gate it).
      * The one rename outside [[graft.util.VersionedDir]] in this layer:
      * the files are a model cache keyed by content, so a crash between
      * the delete and the rename loses a file, which costs a re-fit and
      * never a wrong answer — no version to commit, nothing to recover. */
    private def writeDurable(spark: SparkSession, key: String)(
        write: java.io.DataOutputStream => Unit): Unit =
      durableDir.foreach { d =>
        try {
          val dir = new org.apache.hadoop.fs.Path(d)
          val f = hadoopFs(spark, dir)
          f.mkdirs(dir)
          val tmp = new org.apache.hadoop.fs.Path(dir,
            s"$key.tmp-${java.util.UUID.randomUUID.toString.take(8)}")
          val out = new java.io.DataOutputStream(f.create(tmp, true))
          try write(out) finally out.close()
          val dest = new org.apache.hadoop.fs.Path(dir, key)
          if (f.exists(dest)) f.delete(dest, false)
          // a lost rename race (concurrent writer recreated dest) must not
          // leak the temp file into the shared directory
          if (!f.rename(tmp, dest)) f.delete(tmp, false)
          ()
        } catch { case scala.util.control.NonFatal(_) => () }
      }

    private def readDurable[V](spark: SparkSession, key: String)(
        read: java.io.DataInputStream => V): Option[V] =
      durableDir.flatMap { d =>
        try {
          val p = new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(d), key)
          val f = hadoopFs(spark, p)
          if (!f.exists(p)) None
          else {
            val in = new java.io.DataInputStream(f.open(p))
            try Some(read(in)) finally in.close()
          }
        } catch { case scala.util.control.NonFatal(_) => None } // corrupt = miss
      }

    private val MagicModel = 0x49564631 // "IVF1"
    private val MagicRadii = 0x49565231 // "IVR1"

    private def memoGet[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
        key: String, load: => Option[V], compute: => V): V = {
      val hit = m.get(key)
      if (hit != null) hit
      else {
        if (m.size > 256) m.clear()
        val v = load.getOrElse(compute) // compute persists durably itself
        m.put(key, v)
        v
      }
    }

    def model(spark: SparkSession, key: String, durable: Boolean,
        compute: => Model): Model =
      if (!durable) memoGet[Model](models, key, load = None, compute = compute)
      else memoGet[Model](models, key,
        load = readDurable(spark, s"$key.model") { in =>
          require(in.readInt() == MagicModel, "bad model file")
          val k = in.readInt(); val dim = in.readInt()
          // an intact magic does not prove an intact header: bound k×dim
          // before allocating, or a bit-flipped count turns "corrupt =
          // miss" into an allocation error the NonFatal handler can't
          // catch (centroid matrices are small by construction)
          require(k >= 0 && dim >= 0 && k <= (1 << 20) &&
            dim <= (1 << 16) && k.toLong * dim <= (1L << 24),
            s"implausible model header k=$k dim=$dim")
          Model(Array.fill(k)(Array.fill(dim)(in.readDouble())))
        },
        compute = {
          val m = compute
          writeDurable(spark, s"$key.model") { out =>
            out.writeInt(MagicModel)
            out.writeInt(m.k)
            out.writeInt(if (m.k == 0) 0 else m.centroids.head.length)
            m.centroids.foreach(_.foreach(out.writeDouble))
          }
          m
        })

    def radiiMap(spark: SparkSession, key: String, durable: Boolean,
        compute: => Map[Int, Double]): Map[Int, Double] =
      if (!durable)
        memoGet[Map[Int, Double]](radii, key, load = None, compute = compute)
      else memoGet[Map[Int, Double]](radii, key,
        load = readDurable(spark, s"$key.radii") { in =>
          require(in.readInt() == MagicRadii, "bad radii file")
          val n = in.readInt()
          require(n >= 0 && n <= (1 << 22), s"implausible radii count $n")
          (0 until n).map(_ => in.readInt() -> in.readDouble()).toMap
        },
        compute = {
          val r = compute
          writeDurable(spark, s"$key.radii") { out =>
            out.writeInt(MagicRadii)
            out.writeInt(r.size)
            r.foreach { case (c, v) => out.writeInt(c); out.writeDouble(v) }
          }
          r
        })
  }

  /** Opt-in durable layer for the per-corpus stats memo: persist fit
    * models and cell radii as small binary files under `dir` (any
    * Hadoop-visible filesystem), so a RESTARTED service re-loads them
    * instead of re-running the sample collect / k-means / radii
    * aggregation. Best-effort: unreadable or corrupt files count as
    * misses and are rewritten. RETENTION is the operator's: every corpus
    * version (file-list change) gets fresh keys and old files are never
    * deleted here — point `dir` at a location with a TTL/lifecycle rule
    * if corpora churn. */
  def enableDurableStats(dir: String): Unit =
    StatsMemo.setDurable(Some(dir))
  def disableDurableStats(): Unit = StatsMemo.setDurable(None)

  /** test hook: drop the in-process memo (durable files untouched) */
  private[graft] def clearStatsForTest(): Unit = StatsMemo.clearProcessMemo()

  /** spherical k-means on a deterministic sample (collected to driver —
    * sampleN × dim doubles, bounded regardless of corpus size) */
  def fit(emb: DataFrame, k: Int = 32, sampleN: Int = 2048, iters: Int = 8,
      seed: Long = 42L, idCol: String = "vec_id", embCol: String = "embedding")
      : Model = {
    val sample = emb.orderBy(col(idCol)).limit(sampleN)
      .select(embCol).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val pts = sample.map(normalize)
    val rnd = new java.util.Random(seed)
    var centroids = Array.fill(k)(pts(rnd.nextInt(pts.length)).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      pts.foreach { p =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var dot = 0.0; var j = 0
          while (j < dim) { dot += p(j) * centroids(c)(j); j += 1 }
          if (dot > bestDot) { bestDot = dot; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
        counts(best) += 1
      }
      centroids = sums.zip(counts).zipWithIndex.map { case ((s, n), i) =>
        if (n == 0) pts(rnd.nextInt(pts.length)).clone() // re-seed empty cell
        else normalize(s)
      }
    }
    Model(centroids)
  }

  /** [[fit]] with the model memoized per (corpus, hyper-parameters):
    * the second fit over an unchanged corpus launches no sample job */
  def fitCached(emb: DataFrame, k: Int = 32, sampleN: Int = 2048,
      iters: Int = 8, seed: Long = 42L, idCol: String = "vec_id",
      embCol: String = "embedding"): Model = {
    val (key, durableOk) =
      StatsMemo.corpusKey(emb, s"fit:$k:$sampleN:$iters:$seed:$idCol:$embCol")
    StatsMemo.model(emb.sparkSession, key, durableOk,
      fit(emb, k, sampleN, iters, seed, idCol, embCol))
  }

  /** Per-cell angular radius (max member-to-centroid angle), memoized per
    * (corpus, model): the repeated-call path — every exactPairs /
    * searchExact against an unchanged indexed corpus after the first —
    * launches no radii aggregation job. One narrow aggregation otherwise;
    * `cells` rows collected. */
  def cellRadii(assigned: DataFrame, model: Model, cellCol: String,
      embCol: String): Map[Int, Double] = {
    val modelHash = java.util.Arrays.deepHashCode(
      model.centroids.asInstanceOf[Array[AnyRef]])
    val (key, durableOk) =
      StatsMemo.corpusKey(assigned, s"radii:$cellCol:$embCol:$modelHash")
    StatsMemo.radiiMap(assigned.sparkSession, key, durableOk, {
        def clamp(x: Double): Double = math.max(-1.0, math.min(1.0, x))
        val centsLit = array(model.centroids.map(c => array(c.map(lit): _*)): _*)
        assigned
          .groupBy(cellCol)
          .agg(min(cosine_similarity(col(embCol),
            element_at(centsLit, col(cellCol) + 1))).as("mc"))
          .collect()
          .map(r => r.getInt(0) -> math.acos(clamp(r.getDouble(1))))
          .toMap
      })
  }

  /** add the cell assignment column (write with partitionBy("ivf_cell")
    * to get partition pruning on probes) */
  def index(emb: DataFrame, model: Model, embCol: String = "embedding")
      : DataFrame =
    emb.withColumn("ivf_cell", nearest_centroid(col(embCol), model.centroids))

  /** nProbe cells nearest to a query vector (driver-side, k dot products) */
  def probeCells(model: Model, query: Seq[Float], nProbe: Int): Seq[Int] = {
    val q = query.map(_.toDouble).toArray
    model.centroids.zipWithIndex.map { case (c, i) =>
      val dot = c.zip(q).map { case (a, b) => a * b }.sum
      (i, dot)
    }.sortBy(-_._2).take(nProbe).map(_._1).toSeq
  }

  /** Batched EXACT kNN JOIN: every row of `queries` gets its true top-k
    * cosine neighbors from the indexed corpus — the retrieval-index /
    * hard-negative-mining shape ([[searchExact]] is one query vector;
    * this is a table of them, fully distributed, no driver loop).
    *
    * Same lossless pruning as [[searchExact]], vectorized: per query row
    * a native [[graft.functions.MatrixProject]] node computes all
    * centroid dot products inside codegen; each live cell's reachability
    * bound `cos(max(0, angle(q, centroid_i) − radius_i))` (spherical
    * triangle inequality — no member can beat it) becomes an element of
    * a per-row bounds array. Phase 1 equi-joins each query to its
    * best-bounded cell and takes the candidate top-k to learn the
    * running k-th cosine; phase 2 explodes exactly the cells whose bound
    * still reaches that k-th value and re-joins. Any vector beating the
    * k-th lies in a cell whose bound ≥ its cosine, so phase 2's probe
    * set provably contains the true top-k; a phase-1 cell holding fewer
    * than k members sets the threshold to −∞, degrading to a full scan —
    * never returning less than the truth (same contract as searchExact).
    *
    * Scale shape: both joins are EQUI-joins on `ivf_cell` (co-located
    * with the `partitionBy("ivf_cell")` layout — at 100 TB a query
    * touches its probed cells' files only); the per-query top-k windows
    * shuffle candidate rows keyed on the query id — candidates, not the
    * corpus, and on clustered data the bound prunes most cells. The
    * query table never needs to fit anywhere special: bounds ride along
    * as one array column of |live cells| doubles per row.
    *
    * `queries` must carry (`qidCol`, `qEmbCol`) with `qEmbCol` named
    * differently from `embCol`. Output: (qid, vec_id, cosine, rank) with
    * rank 1..k by (cosine desc, id asc) per query. */
  def knnJoin(indexed: DataFrame, model: Model, queries: DataFrame,
      k: Int = 10, qidCol: String = "qid", qEmbCol: String = "q_embedding",
      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k=$k")
    require(qEmbCol != embCol,
      s"query embedding column '$qEmbCol' must differ from corpus '$embCol'")
    import graft.functions.functions.matrix_project
    val radii = cellRadii(indexed, model, "ivf_cell", embCol)
    val live = model.centroids.indices.filter(radii.contains).toArray
    val out = Seq(qidCol, idCol, "cosine", "rank")
    if (live.isEmpty) // empty corpus: empty result with the right schema
      return queries.select(col(qidCol)).limit(0)
        .crossJoin(indexed.select(col(idCol)).limit(0))
        .withColumn("cosine", lit(0.0)).withColumn("rank", lit(1))
        .select(out.map(col): _*)
    val cnorms = model.centroids.map(c => math.sqrt(c.map(x => x * x).sum))
    val cellIds = array(live.map(lit).toSeq: _*)
    val cellNorms = array(live.map(i => lit(cnorms(i))).toSeq: _*)
    val cellRads = array(live.map(i => lit(radii(i))).toSeq: _*)
    // per-row: dots with live centroids (one codegen matrix product),
    // query norm, then the per-cell (cell, bound) structs
    val qe = col(qEmbCol)
    val qn = sqrt(aggregate(
      transform(qe, x => x.cast("double") * x.cast("double")),
      lit(0.0), (a, x) => a + x))
    val withBounds = queries
      .withColumn("_dots", matrix_project(qe, live.map(model.centroids)))
      .withColumn("_qn", qn)
      .withColumn("_bounds", transform(
        sequence(lit(1), lit(live.length)),
        i => struct(
          element_at(cellIds, i).as("cell"),
          cos(greatest(lit(0.0),
            acos(least(lit(1.0), greatest(lit(-1.0),
              when(col("_qn") === 0.0 ||
                element_at(cellNorms, i) === 0.0, lit(0.0))
                .otherwise(element_at(col("_dots"), i) /
                  (element_at(cellNorms, i) * col("_qn"))))))
            - element_at(cellRads, i))).as("bound"))))
      .withColumn("_best", array_max(transform(col("_bounds"),
        b => struct(b.getField("bound").as("b"), b.getField("cell").as("c"))))
        .getField("c"))
      .select(col(qidCol), qe, col("_bounds"), col("_best"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qidCol)).orderBy(col("cosine").desc, col(idCol))
    // cosine_similarity is NULL for zero-norm vectors; drop those rows
    // here (mirroring searchExact) so (a) phase 1's count counts only
    // real candidates — a best cell padded with zero-norm members must
    // not set a pruning threshold from fewer than k valid cosines — and
    // (b) undefined-cosine rows never reach the output ranking.
    def candidates(probes: DataFrame, cellCol: String): DataFrame =
      probes.join(indexed, probes(cellCol) === indexed("ivf_cell"))
        .select(col(qidCol), col(idCol),
          cosine_similarity(col(embCol), col(qEmbCol)).as("cosine"))
        .filter(col("cosine").isNotNull)
    // phase 1: best cell only → running k-th cosine per query (−∞ when
    // the cell holds fewer than k members: the bound can't prune yet)
    val kth = candidates(withBounds, "_best")
      .withColumn("_rn", row_number().over(wq)).filter(col("_rn") <= k)
      .groupBy(col(qidCol))
      .agg(count(lit(1)).as("_n"), min(col("cosine")).as("_kc"))
      .select(col(qidCol),
        when(col("_n") < k, lit(-2.0)).otherwise(col("_kc")).as("_kth"))
    // phase 2: exactly the cells whose bound reaches the k-th (>=, so
    // boundary ties are kept; the best cell always re-qualifies). LEFT
    // join: a query whose best cell held only zero-norm members has no
    // phase-1 row at all — it must probe every cell (kth = −∞), not
    // silently vanish from the result.
    val probes2 = withBounds.join(kth, Seq(qidCol), "left_outer")
      .select(col(qidCol), col(qEmbCol),
        explode(filter(col("_bounds"),
          b => b.getField("bound") >= coalesce(col("_kth"), lit(-2.0)))).as("_pc"))
      .select(col(qidCol), col(qEmbCol), col("_pc").getField("cell").as("_cell"))
    candidates(probes2, "_cell")
      .withColumn("rank", row_number().over(wq)).filter(col("rank") <= k)
      .select(out.map(col): _*)
  }

  /** top-k cosine search probing only the nearest cells */
  def search(indexed: DataFrame, model: Model, query: Seq[Float], k: Int = 10,
      nProbe: Int = 8, idCol: String = "vec_id", embCol: String = "embedding")
      : DataFrame = {
    val cells = probeCells(model, query, nProbe)
    val q = array(query.map(lit): _*)
    indexed
      .filter(col("ivf_cell").isin(cells: _*))
      .select(col(idCol), cosine_similarity(col(embCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }

  /** EXACT top-k cosine search with IVF-cell pruning — provably equal to
    * brute force, unlike [[search]]'s fixed-nProbe recall gamble.
    *
    * For a cell with centroid angle α to the query and angular radius r
    * (max member-to-centroid angle), no member can beat
    * cos(max(0, α − r)) — the spherical triangle inequality. Probe the
    * best-bounded cell first to establish the running k-th cosine, then
    * scan only cells whose bound still reaches it. On clustered data the
    * bound prunes most cells (cost ≈ matching cells, like a 100 TB
    * partition-pruned read of the ivf_cell layout); on isotropic data it
    * degrades to a full scan — never returns less than the true top-k. */
  /** Exact pruned top-k. `pred` enables FILTERED vector search (the
    * metadata-restricted top-k every vector store serves): candidates
    * are PRE-filtered — the predicate applies inside each cell scan,
    * right next to the cell equi-filter, so at scale both push down to
    * the same parquet scan and a selective predicate reads a fraction
    * of each probed cell. Pruning stays lossless: cell radii computed
    * over the UNFILTERED index upper-bound every member's cosine, so
    * they bound the filtered subset's too; cells are pruned against the
    * k-th best FILTERED cosine (post-filter rerank of an unfiltered
    * shortlist, by contrast, can return < k rows under a selective
    * predicate — this never does). */
  def searchExact(indexed: DataFrame, model: Model, query: Seq[Float],
      k: Int = 10, idCol: String = "vec_id", embCol: String = "embedding",
      pred: Option[Column] = None): DataFrame = {
    def clamp(x: Double): Double = math.max(-1.0, math.min(1.0, x))
    def filtered(df: DataFrame): DataFrame =
      pred.map(df.filter).getOrElse(df)
    val q = array(query.map(lit): _*)
    val radii = cellRadii(indexed, model, "ivf_cell", embCol)
    val qa = query.map(_.toDouble).toArray
    val qNorm = math.sqrt(qa.map(x => x * x).sum)
    val qAngle: Map[Int, Double] = model.centroids.indices.map { i =>
      val c = model.centroids(i)
      val dot = c.zip(qa).map { case (a, b) => a * b }.sum
      val cn = math.sqrt(c.map(x => x * x).sum)
      i -> math.acos(clamp(if (cn == 0 || qNorm == 0) 0.0 else dot / (cn * qNorm)))
    }.toMap
    def bound(i: Int): Double =
      radii.get(i).map(r => math.cos(math.max(0.0, qAngle(i) - r)))
        .getOrElse(-2.0) // empty cell: nothing to probe
    val ordered = model.centroids.indices.filter(radii.contains).sortBy(i => -bound(i))
    if (ordered.isEmpty) // empty corpus: no cells, nothing to probe
      return indexed.limit(0)
        .select(col(idCol), lit(0.0d).as("cosine"))
    val best = ordered.head
    val bestTop = filtered(indexed.filter(col("ivf_cell") === best))
      .select(cosine_similarity(col(embCol), q).as("cosine"))
      .filter(col("cosine").isNotNull)
      .orderBy(col("cosine").desc).limit(k).collect()
    // running k-th best; if the first cell holds fewer than k (filtered)
    // vectors the bound can't prune anything yet (kth = -∞ probes every
    // cell)
    val kth = if (bestTop.length < k) -2.0 else bestTop.last.getDouble(0)
    val probes = ordered.filter(i => i == best || bound(i) >= kth)
    filtered(indexed.filter(col("ivf_cell").isin(probes: _*)))
      .select(col(idCol), cosine_similarity(col(embCol), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol).asc)
      .limit(k)
  }
}
