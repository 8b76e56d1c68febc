package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftshim.{CacheEventPosted, Shims}

import graft.log.CacheEvent

/** Where a named SparkEntry query's time goes. For each query: its
  * formatted plan, then one timed count with the cache events it
  * reported and its Spark jobs, tasks and shuffle bytes per layer, all
  * from one listener. A job's layer is its `graft.layer` tag (`exec`:
  * the cache rewrite, `cache`: its state writes); an untagged job is the
  * query's own. Scenario queries run their set-up phases while the frame
  * is built, and those count too. Nothing is switched on by an
  * environment variable: the events and the tags are always there.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [q1,q2,...]
  * (default: every query; cores from SPARK_GRAFT_CPUS, else all)
  */
object Profile {
  private final class Layers extends SparkListener {
    private val stageLayer = mutable.HashMap.empty[Int, String]
    // layer -> (jobs, tasks, shuffle bytes read, shuffle bytes written)
    val counts = mutable.TreeMap.empty[String, Array[Long]]
    val events = mutable.ArrayBuffer.empty[CacheEvent]
    private def add(layer: String, i: Int, n: Long): Unit =
      counts.getOrElseUpdate(layer, new Array[Long](4))(i) += n

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val layer = Option(j.properties)
        .flatMap(p => Option(p.getProperty(CacheEvent.LayerKey)))
        .getOrElse("query")
      j.stageIds.foreach(stageLayer(_) = layer)
      add(layer, 0, 1)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = s.stageInfo
        val layer = stageLayer.getOrElse(i.stageId, "query")
        add(layer, 1, i.numTasks)
        Option(i.taskMetrics).foreach { m =>
          add(layer, 2, m.shuffleReadMetrics.totalBytesRead)
          add(layer, 3, m.shuffleWriteMetrics.bytesWritten)
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case CacheEventPosted(ev) => synchronized { events += ev; () }
      case _ => ()
    }
    def clear(): Unit = synchronized {
      stageLayer.clear(); counts.clear(); events.clear()
    }
  }

  private def show(e: CacheEvent): String = s"${e.fingerprint.take(12)} " +
    (e match {
      case d: CacheEvent.Decision => s"decision ${d.outcome} ${d.reason}" +
        (if (d.probePath.isEmpty) "" else d.probePath.mkString(" via ", " > ", "")) +
        (if (d.detail.isEmpty) "" else s": ${d.detail}")
      case p: CacheEvent.Phase => f"phase ${p.name} ${p.ms}%.1f ms"
      case c: CacheEvent.Commit => s"commit ${c.kind} ${c.path}" +
        c.declined.fold("")(code => s" declined $code: ${c.detail}")
      case n: CacheEvent.Note => s"${n.level} ${n.msg}"
    })

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qs = graft.SparkEntry.queries
    val names = args.lift(1).filter(_.nonEmpty).map(_.split(",").toSeq)
      .getOrElse(qs.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val layers = new Layers
    spark.sparkContext.addSparkListener(layers)
    names.foreach { name =>
      qs.get(name) match {
        case None => println(s"[profile] UNKNOWN query $name")
        case Some(fn) =>
          layers.clear()
          try {
            val t0 = System.nanoTime()
            val df = fn(spark, sfDir)
            println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
            val n = df.count()
            val sec = (System.nanoTime() - t0) / 1e9
            Shims.drainListenerBus(spark)
            println(f"[profile] $name%-28s $sec%8.3f s  rows=$n")
            layers.synchronized {
              layers.events.foreach(e => println(s"[profile]   ${show(e)}"))
              layers.counts.foreach { case (layer, c) =>
                println(f"[profile]   layer $layer%-6s jobs=${c(0)}%4d " +
                  f"tasks=${c(1)}%5d shuffle_read=${c(2)}%d B " +
                  f"shuffle_write=${c(3)}%d B")
              }
            }
          } catch { case e: Throwable =>
            println(s"[profile] $name FAILED: ${e.getMessage}")
          }
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
