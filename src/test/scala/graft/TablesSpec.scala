package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The events loaders adapt to the `ts` physical type a corpus footer
  * carries without touching the caller's session conf: reading a
  * TIMESTAMP(NANOS) footer needs spark.sql.legacy.parquet.nanosAsLong,
  * which GraftSession.builder sets, and a session without it gets an
  * error naming that conf instead of a silently flipped flag. */
class TablesSpec extends AnyFunSuite {

  private val flag = "spark.sql.legacy.parquet.nanosAsLong"
  private val d = "/root/testdata/sf0.001"

  /** A stock session (the test harness conf, none of GraftSession's
    * settings) with the nanos flag at its default. */
  private def stock(): SparkSession = {
    val s = SparkTest.spark.newSession()
    s.conf.unset(flag)
    s
  }

  /** A one-row events parquet whose `ts` is TIMESTAMP(NANOS), the
    * physical type of older corpus generations. */
  private def nanosCorpus(): java.nio.file.Path = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("nanos_events")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
      .build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L))
    finally w.close()
    dir
  }

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(p)
    try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
  }

  test("events and eventsStream leave a stock session's conf unchanged") {
    val s = stock()
    val before = s.conf.getAll
    val batch = Tables.events(s, d)
    val stream = Tables.eventsStream(s, d)
    assert(s.conf.getAll == before,
      s"conf changed: ${(s.conf.getAll.toSet -- before.toSet)}")
    Seq(batch, stream).foreach(df =>
      assert(df.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType))
  }

  test("a TIMESTAMP(NANOS) footer on a session without nanosAsLong fails " +
    "fast naming the conf and GraftSession.builder") {
    val dir = nanosCorpus()
    try {
      Seq[(String, SparkSession => Any)](
        "events" -> (Tables.events(_, dir.toString)),
        "eventsStream" -> (Tables.eventsStream(_, dir.toString))
      ).foreach { case (name, load) =>
        val s = stock()
        val e = intercept[IllegalStateException](load(s))
        assert(e.getMessage.contains(flag) &&
          e.getMessage.contains("GraftSession.builder"), s"$name: ${e.getMessage}")
        assert(s.conf.get(flag) == "false", name)
      }
      // with the flag (as GraftSession sets it) the nanos are read and
      // truncated to the session's microsecond timestamps
      val s = stock()
      s.conf.set(flag, "true")
      val ts = Tables.events(s, dir.toString).collect()(0).getTimestamp(0)
      assert(ts.getTime == 1700000000123L && ts.getNanos == 123456000)
    } finally deleteTree(dir)
  }
}
