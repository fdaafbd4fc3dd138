package graft.sources

import java.nio.charset.Charset
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.catalog.Shared.{deleteAtExit, exitScopedDir}

class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmpDir(name: String): String = exitScopedDir(name)

  test("csv reads GBK-encoded files with headers and inferred types") {
    val dir = tmpDir("gbkcsv")
    val content = "日期,蔬菜名,价格\n2024-01-01,白菜,3.5\n2024-01-02,萝卜,2.0\n"
    Files.write(Paths.get(dir, "veg.csv"), content.getBytes(Charset.forName("GBK")))
    val df = Sources.csv(spark, s"$dir/veg.csv", encoding = "GBK")
    assert(df.columns.toSeq == Seq("日期", "蔬菜名", "价格"))
    val rows = df.orderBy("日期").collect()
    assert(rows.length == 2)
    assert(rows.head.getString(1) == "白菜")
    assert(rows.head.getDouble(2) == 3.5)
  }

  test("wholeTextWithFallback detects per-file encodings") {
    val dir = tmpDir("enc")
    // GBK bytes that are INVALID UTF-8 (so the fallback chain must advance)
    Files.write(Paths.get(dir, "gbk.txt"), "红楼梦第一回".getBytes(Charset.forName("GBK")))
    Files.write(Paths.get(dir, "utf8.txt"), "hello 世界".getBytes("UTF-8"))
    val m = Sources.wholeTextWithFallback(spark, dir, "*.txt")
      .select(element_at(split(col("path"), "/"), -1).as("f"), col("charset"), col("text"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(m("utf8.txt") == (("UTF-8", "hello 世界")))
    assert(m("gbk.txt")._1 == "GBK")
    assert(m("gbk.txt")._2 == "红楼梦第一回")
  }

  test("binaryDir filters by glob and exposes filename + content") {
    val dir = tmpDir("bin")
    Files.write(Paths.get(dir, "cat.1.jpg"), Array[Byte](1, 2, 3))
    Files.write(Paths.get(dir, "dog.1.jpg"), Array[Byte](4, 5))
    Files.write(Paths.get(dir, "notes.txt"), Array[Byte](9))
    val df = Sources.binaryDir(spark, dir, "*.jpg")
    val rows = df.orderBy("filename").collect()
    assert(rows.map(_.getAs[String]("filename")).toSeq == Seq("cat.1.jpg", "dog.1.jpg"))
    assert(rows.head.getAs[Long]("length") == 3L)
    // filename-prefix filter (P8)
    assert(df.filter(col("filename").startsWith("cat")).count() == 1)
  }

  test("writeCsvSingle produces exactly one headered part file in order") {
    val dir = tmpDir("csvout") + "/out"
    val df = Seq((2, "b"), (1, "a"), (3, "c")).toDF("id", "v")
    Sources.writeCsvSingle(df, dir, sortBy = Seq("id"))
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1)
    val lines = scala.io.Source.fromFile(parts.head).getLines().toSeq
    assert(lines == Seq("id,v", "1,a", "2,b", "3,c"))
  }

  test("writePartitioned lays out hive dirs and a partition filter prunes them") {
    val dir = tmpDir("partout") + "/events_by_day"
    val events = graft.Engine.table(spark, TestSpark.Sf, "events")
      .withColumn("day", to_date(col("ts")))
    Sources.writePartitioned(events, dir, Seq("day"))
    // hive layout: one day=... directory per date
    val dayDirs = new java.io.File(dir).listFiles().filter(_.getName.startsWith("day="))
    assert(dayDirs.length > 1, "expected one directory per day")

    val back = spark.read.parquet(dir)
    val oneDay = dayDirs.head.getName.stripPrefix("day=")
    val q = back.filter(col("day") === lit(oneDay))
    // the filter must prune at PLANNING time: the scan's partition count
    // equals one day's files, and the predicate shows up as a partition
    // filter, not a data filter
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"),
      s"partition filter missing from scan:\n$scan")
    val expected = events.filter(to_date(col("ts")) === lit(oneDay)).count()
    assert(q.count() == expected)
    // pruned read touches exactly the one directory's files
    val prunedFiles = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(prunedFiles.contains(1), s"expected exactly 1 selected partition, got $prunedFiles")
  }

  test("jsonLines parses valid rows and quarantines corrupt ones instead of dropping them") {
    import org.apache.spark.sql.types._
    val d = deleteAtExit(java.nio.file.Files.createTempDirectory("json-src"))
    java.nio.file.Files.write(
      d.resolve("part.jsonl"),
      java.util.Arrays.asList(
        """{"id": 1, "msg": "ok"}""",
        """{"id": 2 "msg": "broken""", // malformed
        """{"id": 3, "msg": "fine"}"""))
    val schema = StructType(Seq(StructField("id", LongType), StructField("msg", StringType)))
    // Spark disallows queries touching ONLY the corrupt column on a raw
    // JSON scan — materialize once (the documented cache-then-audit
    // pattern), then audit
    val rows = Sources.jsonLines(spark, d.toString, schema).collect()
    assert(rows.length == 3) // every input line accounted for
    assert(rows.count(r => !r.isNullAt(2)) == 1)
    assert(rows.filter(_.isNullAt(2)).map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("orc round-trip preserves data and pushes filters into the scan") {
    val d = deleteAtExit(java.nio.file.Files.createTempDirectory("orc-src"))
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Sources.writeOrc(df, d.toString)
    val back = Sources.readOrc(spark, d.toString)
    assert(back.count() == 100)
    val filtered = back.filter(col("id") > 90)
    assert(filtered.count() == 10)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("id"),
      s"ORC scan missing pushed filter:\n$scan")
  }
}
