package org.apache.spark

/** Driver-side SparkConf settings that Spark reads when it schedules a
  * stage (not at start-up), changed for the span of one test. Lives
  * under `org.apache.spark` for access to the live `SparkContext.conf`. */
object DriverConfForTests {
  /** run `f` with `spark.driver.maxResultSize` set to `value` */
  def withMaxResultSize[A](sc: SparkContext, value: String)(f: => A): A = {
    val key = internal.config.MAX_RESULT_SIZE.key
    val old = sc.conf.getOption(key)
    sc.conf.set(key, value)
    try f
    finally old.fold { sc.conf.remove(key); () }(v => { sc.conf.set(key, v); () })
  }
}
