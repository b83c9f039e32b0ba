package graft

class TablesSpec extends SparkSpec {

  private val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")

  private def explicit: Map[String, String] = spark.conf.getAll.filter(kv => keys.contains(kv._1))

  /** Run `body` with the two keys in `state` (None = unset), then put
    * the session's own settings back.
    */
  private def withKeys(state: Map[String, Option[String]])(body: => Unit): Unit = {
    val before = explicit
    def put(s: Map[String, Option[String]]): Unit = s.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    put(state)
    try body
    finally put(keys.map(k => k -> before.get(k)).toMap)
  }

  test("withMicroBatchConf restores explicit keys and leaves unset keys unset") {
    val setState = Map(keys(0) -> Some("true"), keys(1) -> Some("7"))
    val unsetState: Map[String, Option[String]] = keys.map(_ -> None).toMap
    for (state <- Seq(setState, unsetState, Map(keys(0) -> None, keys(1) -> Some("3"))))
      withKeys(state) {
        val want = state.collect { case (k, Some(v)) => k -> v }
        // normal exit: the body sees the micro-batch conf
        val seen = Tables.withMicroBatchConf(spark) {
          (spark.conf.get(keys(0)), spark.conf.get(keys(1)))
        }
        assert(seen == (("false", "1")))
        assert(explicit == want, s"after a normal exit from $state")
        // a throwing body restores the same way
        intercept[IllegalStateException] {
          Tables.withMicroBatchConf(spark) { throw new IllegalStateException("body failed") }
        }
        assert(explicit == want, s"after a throwing body from $state")
      }
  }
}
