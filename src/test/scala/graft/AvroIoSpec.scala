package graft

import java.nio.file.Files

import org.apache.avro.{Schema => ASchema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{AvroIO, IO}

/** The avro file format (core/AvroIO.scala) through `IO.avro` and
  * `IO.writeAvro`: full type surface round-trip, logical types, nested
  * structures, union handling, the multi-branch-union rejection
  * contract, sync-marker splits and column pruning. */
class AvroIoSpec extends AnyFunSuite {

  lazy val spark = graft.core.Sessions.local(4, "graft-avro-test")

  private def tmpDir(): String =
    Files.createTempDirectory("graft-avro").toString

  test("round-trip: primitives, date, timestamp, decimal, binary") {
    import spark.implicits._
    val df = spark.sql("""
      SELECT id,
             CAST(id AS int)                        AS i,
             CAST(id AS float) / 3                  AS f,
             CAST(id AS double) / 7                 AS d,
             id % 2 = 0                             AS flag,
             concat('doc-', id)                     AS s,
             CAST(concat('b', id) AS binary)        AS bin,
             DATE '2026-01-01' + CAST(id AS int)    AS dt,
             TIMESTAMP '2026-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)
                                                    AS ts,
             CAST(id AS decimal(12,3)) / 7          AS dec
      FROM range(100)""")
    val dir = s"${tmpDir()}/t"
    IO.writeAvro(df, dir)
    val back = IO.avro(spark, Seq(dir))
    assert(back.schema("dt").dataType == DateType)
    assert(back.schema("ts").dataType == TimestampType)
    assert(back.schema("dec").dataType.isInstanceOf[DecimalType])
    assert(back.schema("bin").dataType == BinaryType)
    // exact per-row equality via anti-join both ways on a string digest
    val key = (f: org.apache.spark.sql.DataFrame) => f.select(
      md5(concat_ws("|", col("id"), col("i"), col("f"), col("d"),
        col("flag"), col("s"), col("bin").cast("string"),
        col("dt").cast("string"), col("ts").cast("string"),
        col("dec").cast("string"))).as("k"))
    assert(key(df).except(key(back)).count() == 0)
    assert(key(back).except(key(df)).count() == 0)
    assert(back.count() == 100)
  }

  test("round-trip: array, map, nested struct, nulls") {
    val df = spark.sql("""
      SELECT id,
             CASE WHEN id % 3 = 0 THEN NULL
                  ELSE array(id, id * 2) END        AS arr,
             map('a', id, 'b', id + 1)              AS m,
             named_struct('x', id, 'y',
               CASE WHEN id % 2 = 0 THEN NULL
                    ELSE concat('y', id) END)       AS st
      FROM range(30)""")
    val dir = s"${tmpDir()}/nested"
    IO.writeAvro(df, dir)
    val back = IO.avro(spark, Seq(dir)).orderBy("id")
    assert(back.count() == 30)
    val r0 = back.where(col("id") === 0).head
    assert(r0.isNullAt(1)) // arr NULL at id%3=0
    assert(r0.getMap[String, Long](2)("b") == 1L)
    assert(r0.getStruct(3).isNullAt(1)) // y NULL at id%2=0
    val r1 = back.where(col("id") === 1).head
    assert(r1.getSeq[Long](1) == Seq(1L, 2L))
    assert(r1.getStruct(3).getString(1) == "y1")
  }

  test("reader resolves enum to string and [null,T] unions to nullable") {
    val s = new ASchema.Parser().parse("""
      {"type":"record","name":"r","fields":[
        {"name":"e","type":{"type":"enum","name":"col","symbols":["RED","BLUE"]}},
        {"name":"u","type":["null","long"]},
        {"name":"req","type":"string"}]}""")
    val st = AvroIO.toSparkType(s).asInstanceOf[StructType]
    assert(st("e").dataType == StringType)
    assert(st("u").dataType == LongType && st("u").nullable)
    assert(!st("req").nullable)
  }

  test("multi-branch unions are rejected, not silently coerced") {
    val s = new ASchema.Parser().parse("""
      {"type":"record","name":"r","fields":[
        {"name":"u","type":["null","long","string"]}]}""")
    val e = intercept[IllegalArgumentException](AvroIO.toSparkType(s))
    assert(e.getMessage.contains("multi-branch union"))
  }

  test("write is distributed: one container file per partition + _SUCCESS") {
    val df = spark.range(1000).repartition(7).toDF("id")
    val dir = s"${tmpDir()}/parts"
    IO.writeAvro(df, dir)
    val files = new java.io.File(dir).listFiles.map(_.getName).sorted
    assert(files.count(_.endsWith(".avro")) == 7)
    assert(files.contains("_SUCCESS"))
    assert(IO.avro(spark, Seq(dir)).agg(sum("id")).head.getLong(0)
      == 499500L)
  }

  test("zero-length placeholder files are skipped by the header peek") {
    // interrupted writers leave 0-byte .avro placeholders; listing
    // order is filesystem-dependent, so the header peek must find a
    // non-empty file rather than trusting files.head
    val df = spark.range(50).toDF("id")
    val dir = s"${tmpDir()}/withEmpty"
    IO.writeAvro(df, dir)
    // a name that sorts FIRST, to force the old files.head failure
    new java.io.File(dir, "aaa-placeholder.avro").createNewFile()
    val back = IO.avro(spark, Seq(dir))
    assert(back.count() == 50)
    assert(back.agg(sum("id")).head.getLong(0) == 1225L)
  }

  test("single huge file splits at sync markers into >1 working partition") {
    // ONE container file, many blocks (avro flushes a block every
    // ~64 KiB): the splittable read must parallelize WITHIN the file
    // and still deliver every record exactly once across the
    // contiguous byte-range splits Spark carves
    val n = 200000L
    val df = spark.range(n).coalesce(1)
      .selectExpr("id", "repeat('x', 32) AS pad")
    val dir = s"${tmpDir()}/one"
    IO.writeAvro(df, dir)
    val avroFiles = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".avro"))
    assert(avroFiles.length == 1)
    // splits of at most an eighth of the file
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, (avroFiles.head.length / 8 + 1).toString)
    try {
      val back = IO.avro(spark, Seq(dir))
      assert(back.rdd.getNumPartitions >= 8)
      // more than one split actually carries records (sync() landed
      // mid-file, not everything collapsing into split 0)
      val perPart = back.rdd
        .mapPartitions(it => Iterator.single(it.size))
        .collect()
      assert(perPart.count(_ > 0) > 1,
        s"expected >1 non-empty split, got ${perPart.mkString(",")}")
      // exactly-once across splits: count, distinct and checksum match
      assert(back.count() == n)
      assert(back.agg(countDistinct("id")).head.getLong(0) == n)
      assert(back.agg(sum("id")).head.getLong(0) == n * (n - 1) / 2)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("read of a directory written by the fallback preserves row count per file") {
    // multiple paths, each a directory Spark lists
    val df = spark.range(10).toDF("id")
    val d1 = s"${tmpDir()}/a"; val d2 = s"${tmpDir()}/b"
    IO.writeAvro(df, d1); IO.writeAvro(df.withColumn("id", col("id") + 10), d2)
    val back = IO.avro(spark, Seq(d1, d2))
    assert(back.count() == 20)
    assert(back.agg(countDistinct("id")).head.getLong(0) == 20)
  }

  test("one reader schema: a later file's int and float promote to the " +
    "first file's long and double, a missing nullable column reads null") {
    val a = s"${tmpDir()}/wide"; val b = s"${tmpDir()}/narrow"
    IO.writeAvro(spark.range(10).selectExpr("id", "id * 0.5D AS x",
      "CASE WHEN id >= 0 THEN 'a' END AS tag"), a)
    IO.writeAvro(spark.range(10, 20).selectExpr("CAST(id AS int) AS id",
      "CAST(id * 0.5D AS float) AS x"), b)
    val back = IO.avro(spark, Seq(a, b))
    assert(back.schema("id").dataType == LongType)
    assert(back.schema("x").dataType == DoubleType)
    val r = back.agg(sum("id"), sum("x"), count("tag")).head
    assert(r.getLong(0) == 190L && r.getDouble(1) == 95.0 &&
      r.getLong(2) == 10L)
  }

  test("a top-level [null, record] writer schema reads as its record") {
    val s = new ASchema.Parser().parse("""
      ["null", {"type":"record","name":"r","fields":[
        {"name":"id","type":"long"},{"name":"s","type":"string"}]}]""")
    val dir = new java.io.File(tmpDir(), "union")
    dir.mkdirs()
    val w = new org.apache.avro.file.DataFileWriter[Object](
      new org.apache.avro.generic.GenericDatumWriter[Object](s))
    w.create(s, new java.io.File(dir, "part-0.avro"))
    val rec = s.getTypes.get(1)
    (0 until 5).foreach { i =>
      val g = new org.apache.avro.generic.GenericData.Record(rec)
      g.put("id", i.toLong); g.put("s", s"v$i"); w.append(g)
    }
    w.close()
    val back = IO.avro(spark, Seq(dir.toString)).orderBy("id")
    assert(back.collect().toSeq == (0 until 5).map(i => Row(i.toLong, s"v$i")))
  }

  test("a one-column select of a wide file scans only that column") {
    val df = spark.range(100).selectExpr(
      (0 until 12).map(i => s"id * $i AS c$i"): _*)
    val dir = s"${tmpDir()}/wide"
    IO.writeAvro(df, dir)
    val one = IO.avro(spark, Seq(dir)).select("c3")
    val scans = one.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1)
    assert(scans.head.metadata("ReadSchema") == "struct<c3:bigint>")
    assert(one.agg(sum("c3")).head.getLong(0) == 3L * 4950L)
  }
}
