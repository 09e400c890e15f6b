package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Readers and writers mirroring the reference's source/sink surface
  * (SURVEY.md §2.1–2.2), re-expressed as thin presets over the Spark
  * DataFrame reader/writer so every scan stays Catalyst-plannable
  * (pushdown, pruning, partition elimination all apply).
  *
  * The reference's shell-outs to `hadoop fs -ls` (spark_utils.py:66-95)
  * are replaced by the Hadoop FileSystem API in [[Paths]] — pure JVM,
  * no subprocess, works against any Hadoop-compatible FS (HDFS, S3A,
  * local) the cluster mounts.
  */
object IO {

  /** CSV with explicit schema and the reference's null conventions:
    * `treatEmptyValuesAsNulls` + `nullValue='null'`
    * (spark_utils.py:287-290). */
  def csv(spark: SparkSession, schema: StructType, paths: Seq[String],
      header: Boolean = false, failFast: Boolean = false): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("nullValue", "null")
      .option("emptyValue", "")
      .option("treatEmptyValuesAsNulls", "true")
      .option("mode", if (failFast) "FAILFAST" else "PERMISSIVE")
      .csv(paths: _*)

  /** JSON with a pruned explicit schema — the "read 7 of ~200 fields of
    * the MONIT envelope" pattern (hpc_running_cores_and_corehr.py:57-88).
    * `basePath` keeps partition columns derivable when reading a file
    * subset of a partitioned layout. */
  def json(spark: SparkSession, schema: StructType, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val r = spark.read.schema(schema)
    basePath.foreach(b => r.option("basePath", b))
    r.json(paths: _*)
  }

  /** Schema-inferred JSON, optionally on a sample of the data
    * (EOS pattern, spark_utils.py:603-608). */
  def jsonInferred(spark: SparkSession, paths: Seq[String],
      samplingRatio: Double = 1.0): DataFrame =
    spark.read.option("samplingRatio", samplingRatio.toString).json(paths: _*)

  /** Avro scan (replaces the legacy newAPIHadoopFile converter path,
    * spark_utils.py:434-478) through [[AvroIO]], a Spark file format on
    * the avro core API that ships in every Spark distribution: split at
    * container sync markers, column-pruned, with file names and input
    * metrics from Spark's own file scan. */
  def avro(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format(classOf[AvroIO].getName).load(paths: _*)

  /** Avro write through [[AvroIO]]: one snappy container file per task
    * under Spark's commit protocol. */
  def writeAvro(df: DataFrame, out: String): Unit =
    df.write.mode(SaveMode.Overwrite).format(classOf[AvroIO].getName)
      .save(out)

  def parquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*)

  /** Empty relation with a schema — the "no files for this day"
    * fallback (spark_utils.py:537-538, 597-601). */
  def emptyRelation(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema)

  /** Union of N snapshot frames by column name (union_all,
    * spark_utils.py:98-109). Null-fills columns missing on one side so
    * schema drift across snapshots doesn't abort the read. */
  def unionSnapshots(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionSnapshots of zero frames")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Header CSV write — the main HDFS output of most reference jobs
    * (data_collection.py:91). Overwrite replaces the reference's
    * delete-then-write (spark_utils.py:189-190). */
  def writeCsv(df: DataFrame, out: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString).csv(out)

  /** Day-partitioned parquet store with dynamic partition overwrite —
    * the incremental EOS store (dbs_hdfs_eos.py:55-62). Only the day
    * partitions present in `df` are replaced; the rest of the store is
    * untouched, which is what makes daily re-runs idempotent at scale.
    *
    * `cluster` (default on) repartitions by the partition column
    * before the write: without it every TASK holding rows of a day
    * opens its own file in that day's directory — tasks × days small
    * files at 100 TB. The one extra shuffle buys one file per
    * partition value (AQE splits any skewed day across tasks). Turn it
    * off when the input is already clustered by the column. */
  def writePartitionedParquet(df: DataFrame, out: String,
      partitionCol: String, overwriteDynamic: Boolean = true,
      cluster: Boolean = true): Unit = {
    val prepared =
      if (cluster)
        df.repartition(org.apache.spark.sql.functions.col(partitionCol))
      else df
    prepared.write
      .partitionBy(partitionCol)
      .mode(if (overwriteDynamic) SaveMode.Overwrite else SaveMode.Append)
      .option("compression", "snappy")
      .parquet(out)
  }

  /** Gzip JSON write (anonymized output, hdfs_an.py:69). */
  def writeJsonGzip(df: DataFrame, out: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("compression", "gzip").json(out)

  /** Bucketed, sorted managed table: subsequent joins/aggregations on
    * the bucket key read with ZERO exchanges (BucketingSpec proves the
    * plan). Bucketing is the static pre-partitioning a RECURRING big
    * join pipeline wants at 100 TB — pay the shuffle once at write
    * time, every downstream run co-locates for free. */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .saveAsTable(table)

  /** Small-file compaction: rewrite a parquet directory into files of
    * ~`targetBytes` each — the standing maintenance pass of any
    * incrementally-written lake (daily appends at 100 TB accumulate
    * thousands of KB-sized part files per partition; scans then pay
    * one task + one open per file and the NameNode pays the
    * metadata). Output file count derives from the ACTUAL input bytes
    * (FileSystem `getContentSummary`, not a row-count guess, so
    * compression ratio carries over), floored at 1. Rewrites to a tmp
    * sibling then swaps, so a failed compaction never loses the
    * original data. Returns the output file count.
    *
    * Requires EXCLUSIVE access to `path` for the duration of the call:
    * the swap is rename-first (original → backup, tmp → live), so
    * between the two renames the live path briefly does not exist and
    * any concurrent reader fails mid-compaction. Intended for
    * HDFS-like filesystems with atomic directory rename; on object
    * stores (S3A) rename is a non-atomic copy, which widens that
    * reader-visibility window — run compaction there only in a
    * maintenance window or behind a table format that versions
    * metadata. Crash-safety (no data loss) holds either way. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 512L * 1024 * 1024): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    // refuse partitioned stores: a whole-tree rewrite would read the
    // partition column back as data and FLATTEN the layout (silent
    // loss of partition pruning). Compact those per partition dir.
    val partitioned = fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.contains("="))
    require(!partitioned,
      s"compact: $path is a partitioned store (key=value subdirs); " +
        "compact each partition directory instead, or the layout — " +
        "and partition pruning with it — would be silently flattened")
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
      .toInt
    // tmp/backup are SIBLINGS built from the normalized Path (string
    // concat on a trailing-slash input would nest tmp INSIDE the store
    // and the swap would destroy it), and the swap is rename-first:
    // original → backup, tmp → live, delete backup. A crash at any
    // point leaves the data recoverable under one of the three names —
    // never a window where no copy exists (delete-then-rename had one).
    def sibling(suffix: String) =
      new org.apache.hadoop.fs.Path(p.getParent, p.getName + suffix)
    val tmp = sibling("__compact_tmp")
    val bak = sibling("__compact_bak")
    spark.read.parquet(p.toString)
      .repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (!fs.rename(p, bak))
      throw new java.io.IOException(s"compact: rename $p -> $bak failed")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // roll back
      throw new java.io.IOException(s"compact: rename $tmp -> $p failed")
    }
    fs.delete(bak, true)
    nFiles
  }

  /** EOS report extraction, pre-2020 raw shape: `data` is ONE quoted
    * `k=v&k=v` string (spark_utils.py:550-671). One `str_to_map` pass
    * replaces the reference's 12 per-field regexp_extract calls —
    * single codegen'd projection, one map build per row. Emits the
    * backward-compatible column set (`path`→file_lfn, `sec.name`→user,
    * `sec.info`→user_dn, `sec.app`→application, `td`→session) plus the
    * derived `day`. */
  def eosFromRaw(envelope: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val m = str_to_map(
      regexp_replace(col("data"), "\"", ""), lit("&"), lit("="))
    envelope.select(
      m.getItem("path").as("file_lfn"),
      m.getItem("sec.name").as("user"),
      m.getItem("sec.info").as("user_dn"),
      m.getItem("sec.app").as("application"),
      m.getItem("td").as("session"),
      // try_cast: log payloads carry free-form values and an ANSI
      // cast would abort the scan on the first dirty one
      m.getItem("rb_max").try_cast("long").as("rb_max"),
      m.getItem("rt").try_cast("double").as("rt"),
      m.getItem("wt").try_cast("double").as("wt"),
      m.getItem("rb").try_cast("long").as("rb"),
      m.getItem("wb").try_cast("long").as("wb"),
      m.getItem("cts").try_cast("long").as("cts"),
      m.getItem("csize").try_cast("long").as("csize"),
      col("metadata.timestamp").as("timestamp"),
      date_format(
        from_unixtime(col("metadata.timestamp") / 1000), "yyyyMMdd")
        .as("day"))
  }

  /** EOS report extraction, 2020+ struct shape: dotted field names
    * (`sec.app`) inside the `data` struct, selected with backtick
    * escapes and renamed to the same backward-compatible column set
    * (spark_utils.py:610-634). */
  def eosFromStruct(envelope: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    envelope.selectExpr(
      "data.path AS file_lfn",
      "data.`sec.name` AS user",
      "data.`sec.info` AS user_dn",
      "data.`sec.app` AS application",
      "data.td AS session",
      "data.rb_max AS rb_max", "data.rt AS rt", "data.wt AS wt",
      "data.rb AS rb", "data.wb AS wb", "data.cts AS cts",
      "data.csize AS csize", "metadata.timestamp AS timestamp")
      .withColumn("day",
        date_format(from_unixtime(col("timestamp") / 1000), "yyyyMMdd"))
  }
}

/** Date-partitioned path resolution on the Hadoop FileSystem API —
  * replaces `file_list` / `get_candidate_files` and every
  * `hadoop fs -ls` shell-out (spark_utils.py:66-162, 768-788). */
object Paths {

  import java.time.LocalDate
  import java.time.format.DateTimeFormatter

  /** Days in [start, end], inclusive, as formatted path fragments. */
  def dayRange(start: LocalDate, end: LocalDate,
      pattern: String = "yyyy/MM/dd"): Seq[String] = {
    val fmt = DateTimeFormatter.ofPattern(pattern)
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(!_.isAfter(end))
      .map(_.format(fmt)).toSeq
  }

  /** Resolve existing per-day directories under `base` for the range,
    * with the reference's `.tmp` compaction fallback: if `base/day` is
    * missing, `base/day.tmp` (still-compacting data) is used
    * (get_candidate_files, spark_utils.py:768-788). `dayDelta` widens
    * the range to catch late data filed under neighboring days.
    * `strict` reproduces file_list's "error if an endpoint is missing"
    * contract (spark_utils.py:112-162). */
  def candidateDirs(spark: SparkSession, base: String, start: LocalDate,
      end: LocalDate, dayDelta: Int = 0, strict: Boolean = false,
      pattern: String = "yyyy/MM/dd"): Seq[String] = {
    val fs = FileSystem.get(new Path(base).toUri,
      spark.sparkContext.hadoopConfiguration)
    val days = dayRange(start.minusDays(dayDelta), end.plusDays(dayDelta),
      pattern)
    val resolved = days.flatMap { day =>
      val main = new Path(s"$base/$day")
      val tmp = new Path(s"$base/$day.tmp")
      if (fs.exists(main)) Some(s"$base/$day")
      else if (fs.exists(tmp)) Some(s"$base/$day.tmp")
      else None
    }
    if (strict) {
      val endpoints = Seq(start, end).map(_.format(
        DateTimeFormatter.ofPattern(pattern)))
      val missing = endpoints.filterNot(e =>
        resolved.exists(_.endsWith(e)) ||
          resolved.exists(_.endsWith(s"$e.tmp")))
      require(missing.isEmpty,
        s"missing endpoint day dirs under $base: ${missing.mkString(",")}")
    }
    resolved
  }

  /** Glob listing via the FileSystem API (replaces `hadoop fs -ls`
    * subprocesses). */
  def glob(spark: SparkSession, globPath: String): Seq[String] = {
    val p = new Path(globPath)
    val fs = FileSystem.get(p.toUri, spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).map(_.toSeq.map(_.getPath.toString))
      .getOrElse(Seq.empty)
  }
}
