package graft.sources

import java.nio.file.Files

/** Commit-time zone-stats collection ([[FileStats]]) when a file cannot
  * be read: the commit lands without zones and says so once. */
class FileStatsSpec extends graft.SparkSpecBase {

  test("a truncated parquet file in a committed dir logs one warning " +
      "naming it, and the commit lands without zone stats") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val wh = Files.createTempDirectory("graft-fsbad").toString
    val g = new GraftCatalog(spark, wh)
    g.createSchema("db")
    val rows = spark.range(0, 100).selectExpr("id", "id * 2 AS v")
    g.createTable("db", "t", rows.schema)
    g.append("db", "t", rows) // snap-1, with zones
    // snap-2 arrives staged: its rows plus a part file cut off mid-write
    val staging = ".staging-truncated"
    g.writeDir("db", "t", g.readManifest("db", "t"), rows, staging, "data", buckets = None)
    val dir = new java.io.File(s"$wh/db/t/$staging")
    val whole = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val cut = new java.io.File(dir, "part-truncated.parquet")
    Files.write(cut.toPath, Files.readAllBytes(whole.toPath).take(40))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("filestats-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LogManager.getLogger("graft.sources.FileStats").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.WARN)
    try {
      val id = g.commit("db", "t", Seq(GraftCatalog.Leg("", "data", rows, staged = Some(staging))))
      assert(id === 2L)
      val m = g.readManifest("db", "t")
      assert(m.headFiles.map(_.dir).toSet === Set("snap-1", "snap-2"))
      assert(m.dirStats.keySet === Set("snap-1"))
      assert(seen.size === 1, seen)
      assert(seen.peek().contains(cut.getName), seen)
    } finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
  }
}
