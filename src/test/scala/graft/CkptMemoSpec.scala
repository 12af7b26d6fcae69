package graft

import graft.ext.CkptMemo
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.DataFrame

/** The memo's bounded LRU, at a cap small enough to reach: the entry
  * past the cap evicts the least recently used key, the eviction is
  * counted and WARN-logged with its key, and the evicted key rebuilds on
  * its next access while the kept ones still hit. */
class CkptMemoSpec extends SparkSpec {

  test("an eviction at cap + 1 is counted, logged and the evicted key rebuilds") {
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("ckpt-memo-spec", null, null, true,
                                        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(s"${e.getLevel} ${e.getMessage.getFormattedMessage}")
    }
    val logger = LogManager.getLogger("graft.CkptMemo").asInstanceOf[CoreLogger]
    appender.start()
    logger.addAppender(appender)
    try {
      val memo = new CkptMemo(maxEntries = 2)
      val builds = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
      def get(key: String): DataFrame = memo.getOrElseUpdate(key, {
        builds(key) += 1
        spark.range(1).toDF(key)
      })
      get("a"); get("b")
      assert(memo.evictions === 0L)
      get("a")                        // hit; "b" is now the eldest
      assert(builds("a") === 1)
      get("c")                        // cap + 1: evicts "b"
      assert(memo.evictions === 1L)
      assert(warnings.size === 1)
      assert(warnings.peek().startsWith("WARN evicted b "), warnings.peek())
      assert(get("a").columns.toSeq === Seq("a"))
      assert(builds.toMap === Map("a" -> 1, "b" -> 1, "c" -> 1))
      assert(get("b").columns.toSeq === Seq("b")) // rebuilt, evicting "c"
      assert(builds("b") === 2)
      assert(memo.evictions === 2L)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
  }
}
