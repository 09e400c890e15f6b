package graft

import java.nio.file.{Files, Paths => JPaths}
import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{DocSink, IO, Paths}

/** Specs for the source/sink surface (SURVEY.md §2.1–2.2): CSV null
  * conventions, FAILFAST, pruned-schema JSON, sampling inference,
  * empty-relation fallback, snapshot unions, partitioned parquet with
  * dynamic overwrite, gzip JSON, date-partitioned path resolution with
  * .tmp fallback, and executor-side document sinks. */
class IoSpec extends AnyFunSuite {

  lazy val spark = graft.core.Sessions.local(4, "graft-io-test")

  private def tmpDir(): String =
    Files.createTempDirectory("graft-io").toString

  test("csv: explicit schema, 'null' literal and empty become NULL") {
    val dir = tmpDir()
    Files.write(JPaths.get(dir, "t.csv"),
      "1,alpha\n2,null\n3,\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val got = IO.csv(spark, schema, Seq(s"$dir/t.csv"))
      .orderBy("id").collect()
    assert(got.map(_.isNullAt(1)).toSeq == Seq(false, true, true))
  }

  test("csv FAILFAST: malformed row aborts the scan") {
    val dir = tmpDir()
    Files.write(JPaths.get(dir, "bad.csv"), "1,a\nnot_an_int,b\n".getBytes)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType)))
    val strict = IO.csv(spark, schema, Seq(s"$dir/bad.csv"), failFast = true)
    intercept[org.apache.spark.SparkException] { strict.collect() }
    // PERMISSIVE default: malformed field nulls out instead
    val lax = IO.csv(spark, schema, Seq(s"$dir/bad.csv"))
    assert(lax.count() == 2)
  }

  test("json: pruned schema reads only declared envelope fields") {
    val dir = tmpDir()
    Files.write(JPaths.get(dir, "d.json"),
      """{"data":{"site":"T1","cores":8,"noise":"x"},"metadata":{"ts":5}}
        |{"data":{"site":"T2","cores":4,"noise":"y"},"metadata":{"ts":6}}
        |""".stripMargin.getBytes)
    val schema = StructType(Seq(
      StructField("data", StructType(Seq(
        StructField("site", StringType), StructField("cores", LongType)))),
      StructField("metadata", StructType(Seq(
        StructField("ts", LongType))))))
    val df = IO.json(spark, schema, Seq(s"$dir/d.json"))
      .select(col("data.*"), col("metadata.ts"))
    assert(df.columns.toSeq == Seq("site", "cores", "ts"))
    assert(df.count() == 2)
  }

  test("jsonInferred with samplingRatio still reads all rows") {
    val dir = tmpDir()
    val lines = (1 to 50).map(i => s"""{"a":$i,"b":"s$i"}""")
    Files.write(JPaths.get(dir, "i.json"), lines.mkString("\n").getBytes)
    val df = IO.jsonInferred(spark, Seq(s"$dir/i.json"), samplingRatio = 0.1)
    assert(df.count() == 50)
    assert(df.schema.fieldNames.sorted.toSeq == Seq("a", "b"))
  }

  // The build does not depend on the spark-avro connector, so the
  // avro surface is its own Spark file format (core/AvroIO.scala) on
  // the org.apache.avro core jars that ship with Spark; IO.avro and
  // IO.writeAvro always go through it, and this is the round-trip of
  // that one path. AvroIoSpec covers the type-mapping surface. (The
  // test keeps its name from when the connector came first.)
  test("avro round-trip (connector when present, core-API fallback else)") {
    val dir = tmpDir()
    val src = spark.range(50).selectExpr("id", "concat('n', id) AS name",
      "cast(id AS double) / 7 AS score")
    IO.writeAvro(src, s"$dir/av")
    val back = IO.avro(spark, Seq(s"$dir/av"))
    assert(back.count() == 50)
    assert(back.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    import org.apache.spark.sql.functions._
    val chk = back.agg(sum("id"), sum("score")).head
    assert(chk.getLong(0) == 1225L)
    assert(math.abs(chk.getDouble(1) - 1225.0 / 7) < 1e-9)
  }

  test("emptyRelation has the schema and zero rows") {
    val schema = StructType(Seq(StructField("x", LongType)))
    val df = IO.emptyRelation(spark, schema)
    assert(df.count() == 0 && df.schema == schema)
  }

  test("unionSnapshots tolerates schema drift across snapshots") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq((2, "y", 9.0)).toDF("id", "name", "extra")
    val u = IO.unionSnapshots(Seq(a, b)).orderBy("id").collect()
    assert(u.length == 2)
    assert(u(0).isNullAt(2) && u(1).getDouble(2) == 9.0)
  }

  test("partitioned parquet: dynamic overwrite replaces only touched days") {
    import spark.implicits._
    val out = tmpDir() + "/store"
    IO.writePartitionedParquet(
      Seq((1, "20240101"), (2, "20240102")).toDF("v", "day"), out, "day")
    // second write touches only day 20240102
    IO.writePartitionedParquet(
      Seq((99, "20240102")).toDF("v", "day"), out, "day")
    // partition values read back type-inferred (string "20240101" → int)
    val got = spark.read.parquet(out).orderBy("day")
      .collect().map(r => (r.getInt(0), String.valueOf(r.get(1))))
    assert(got.toSeq == Seq((1, "20240101"), (99, "20240102")))
  }

  test("compact rewrites many small files into the derived count") {
    val out = tmpDir() + "/frag"
    // 64 tiny part files
    spark.range(0, 1000).toDF("id").repartition(64).write.parquet(out)
    def parts(p: String): Int =
      new java.io.File(p).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parts(out) == 64)
    val total = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // target = half the payload → expect ceil(bytes/target) ≈ 2-3 files
    val n = graft.core.IO.compact(spark, out, targetBytes = total / 2)
    assert(parts(out) == n && n >= 2 && n <= 4)
    // data survives byte-for-byte (count + sum)
    val back = spark.read.parquet(out)
    assert(back.count() == 1000)
    assert(back.agg(sum(col("id"))).head.getLong(0) == 499500L)
    // partitioned stores are refused (whole-tree rewrite would flatten
    // the layout); per-partition compaction still works
    val pstore = tmpDir() + "/pstore"
    spark.range(0, 100).toDF("id")
      .withColumn("day", col("id") % 2)
      .write.partitionBy("day").parquet(pstore)
    intercept[IllegalArgumentException] {
      graft.core.IO.compact(spark, pstore)
    }
    assert(graft.core.IO.compact(spark, pstore + "/day=0") >= 1)
    assert(spark.read.parquet(pstore).count() == 100)
    // trailing slash must not nest the tmp dir inside the store (the
    // swap would then delete the fresh copy with the old one)
    assert(graft.core.IO.compact(spark, out + "/") >= 1)
    assert(spark.read.parquet(out).count() == 1000)
  }

  test("gzip json write produces .gz part files that read back") {
    import spark.implicits._
    val out = tmpDir() + "/json"
    IO.writeJsonGzip(Seq((1, "a")).toDF("id", "s"), out)
    val parts = Files.list(JPaths.get(out)).toArray.map(_.toString)
    assert(parts.exists(_.endsWith(".gz")))
    assert(spark.read.json(out).count() == 1)
  }

  test("candidateDirs: .tmp fallback, dayDelta padding, strict endpoints") {
    val base = tmpDir()
    Files.createDirectories(JPaths.get(s"$base/2024/01/01"))
    Files.createDirectories(JPaths.get(s"$base/2024/01/02.tmp"))
    // 2024/01/03 missing entirely; 2023/12/31 present for dayDelta
    Files.createDirectories(JPaths.get(s"$base/2023/12/31"))
    val d1 = LocalDate.of(2024, 1, 1); val d2 = LocalDate.of(2024, 1, 2)
    val got = Paths.candidateDirs(spark, base, d1, d2)
    assert(got == Seq(s"$base/2024/01/01", s"$base/2024/01/02.tmp"))
    val padded = Paths.candidateDirs(spark, base, d1, d2, dayDelta = 1)
    assert(padded.head == s"$base/2023/12/31" && padded.size == 3)
    intercept[IllegalArgumentException] {
      Paths.candidateDirs(spark, base, d1, LocalDate.of(2024, 1, 3),
        strict = true)
    }
  }

  test("glob lists matching paths via FileSystem API") {
    val base = tmpDir()
    Files.createDirectories(JPaths.get(s"$base/a1"))
    Files.createDirectories(JPaths.get(s"$base/a2"))
    Files.createDirectories(JPaths.get(s"$base/b1"))
    val got = Paths.glob(spark, s"$base/a*").map(_.split('/').last).sorted
    assert(got == Seq("a1", "a2"))
  }

  test("DocSink.push sends enveloped docs from executors, chunked") {
    import spark.implicits._
    val dir = tmpDir() + "/sink"
    val df = DocSink.envelope(
      Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "s"),
      producer = "graft", docType = "unit", timestampMs = 1700000000000L)
    DocSink.push(df.repartition(2), new DocSink.LocalFileTransport(dir),
      chunkSize = 2)
    val lines = Files.list(JPaths.get(dir)).toArray
      .flatMap(p => scala.io.Source.fromFile(p.toString).getLines())
    assert(lines.length == 3)
    assert(lines.forall(l => l.contains("\"producer\":\"graft\"") &&
      l.contains("\"data\":")))
  }

  test("DocSink.pushSample caps documents at n (the --test flag)") {
    import spark.implicits._
    val dir = tmpDir() + "/sample"
    DocSink.pushSample((1 to 100).toDF("v"),
      new DocSink.LocalFileTransport(dir), n = 10)
    val lines = Files.list(JPaths.get(dir)).toArray
      .flatMap(p => scala.io.Source.fromFile(p.toString).getLines())
    assert(lines.length == 10)
  }

  test("DocSink.pushFromDriver streams one partition at a time") {
    import spark.implicits._
    val dir = tmpDir() + "/drv"
    DocSink.pushFromDriver(Seq((1, "x"), (2, "y")).toDF("id", "s"),
      new DocSink.LocalFileTransport(dir), chunkSize = 1)
    val lines = Files.list(JPaths.get(dir)).toArray
      .flatMap(p => scala.io.Source.fromFile(p.toString).getLines())
    assert(lines.length == 2)
  }

  test("partitioned write clusters rows: one data file per partition") {
    import spark.implicits._
    val dir = tmpDir() + "/clustered"
    // rows for each day deliberately spread over 8 input partitions
    val df = (1 to 64).map(i => (i, s"2024010${i % 2 + 1}"))
      .toDF("v", "day").repartition(8)
    IO.writePartitionedParquet(df, dir, "day")
    Seq("day=20240101", "day=20240102").foreach { p =>
      val files = Files.list(JPaths.get(dir, p)).toArray
        .map(_.toString).count(_.endsWith(".parquet"))
      assert(files == 1, s"$p has $files files, expected 1")
    }
    assert(spark.read.parquet(dir).count() == 64)
  }

  test("source-file provenance: input_file_name survives union, " +
    "path components extract the snapshot date") {
    import spark.implicits._
    // two dated snapshot dirs, as in the reference's daily dumps
    // (rucio_daily.py:38-48: dump date parsed out of the file path)
    val base = tmpDir()
    Seq(1, 2).toDF("v").write.parquet(s"$base/2024-01-01/t.parquet")
    Seq(3).toDF("v").write.parquet(s"$base/2024-01-02/t.parquet")
    val read = (d: String) => spark.read.parquet(s"$base/$d/t.parquet")
      .select(input_file_name().as("path"))
    val got = read("2024-01-01").union(read("2024-01-02"))
      .select(element_at(split(col("path"), "/"), -3).as("dump_date"))
      .groupBy("dump_date").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
  }
}
