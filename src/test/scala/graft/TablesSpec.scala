package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.LongType

/** The kept schema of `Tables` is reused only while everything that
  * schema inference reads is unchanged.
  */
class TablesSpec extends SparkSpec {

  private val nanos = "spark.sql.legacy.parquet.nanosAsLong"

  /** The one part file of a small parquet write. */
  private def partFile(df: org.apache.spark.sql.DataFrame, dir: Path): Path = {
    df.coalesce(1).write.parquet(dir.toString)
    Files.list(dir).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
  }

  test("a given schema reads every testdata table as inference does") {
    val before = spark.conf.getOption(nanos)
    spark.conf.set(nanos, "true")
    try {
      for (scale <- Seq("sf0.001", "sf0.01", "sf0.1");
           t <- Seq("region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings")) {
        val path = s"${sf(scale)}/$t.parquet"
        val inferred = spark.read.parquet(path).schema
        val given = spark.read.schema(inferred).parquet(path).schema
        assert(given == inferred && given.json == inferred.json, s"$scale/$t")
      }
    } finally before.fold(spark.conf.unset(nanos))(spark.conf.set(nanos, _))
  }

  test("a replaced file is inferred again") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("tables-spec")
    val narrow = partFile(Seq(1L, 2L).toDF("a"), tmp.resolve("narrow"))
    val wide = partFile(Seq((1L, "x")).toDF("a", "b"), tmp.resolve("wide"))
    val dir = tmp.resolve("sf")
    Files.createDirectories(dir)
    val target = dir.resolve("t.parquet")
    Files.copy(narrow, target)
    assert(Tables.table(spark, dir.toString, "t").columns.toSeq === Seq("a"))
    assert(jobsOf("tables-same")(Tables.table(spark, dir.toString, "t")) === 0)
    Files.copy(wide, target, StandardCopyOption.REPLACE_EXISTING)
    val df = Tables.table(spark, dir.toString, "t")
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x")))
  }

  test("flipping nanosAsLong infers again") {
    val dir = Files.createTempDirectory("tables-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("n.parquet").toString))
      .withType(schema).withConf(new Configuration()).build()
    w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1500000000L))
    w.close()
    val before = spark.conf.getOption(nanos)
    try {
      spark.conf.set(nanos, "true")
      val asLong = Tables.table(spark, dir.toString, "n")
      assert(asLong.schema("ts").dataType === LongType)
      assert(asLong.collect().map(_.getLong(0)).toSeq === Seq(1500000000L))
      // a kept LongType schema would read on; inference rejects the type
      spark.conf.set(nanos, "false")
      val e = intercept[Exception](Tables.table(spark, dir.toString, "n"))
      assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL") ||
        e.getMessage.contains("TIMESTAMP(NANOS"), e.getMessage)
    } finally before.fold(spark.conf.unset(nanos))(spark.conf.set(nanos, _))
  }
}
