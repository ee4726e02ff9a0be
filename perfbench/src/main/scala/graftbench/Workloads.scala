package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger

object Workloads {
  val Dedup: Seq[String] = Seq(
    "ml_dedup_minhash", "ml_substring_dedup", "ml_segment_dedup", "ml_line_dedup",
    "ml_dedup_components", "ml_quality_gopher", "ml_embed_neardup_lsh",
    "ml_kmeans_assign")

  def apply(name: String, inputs: String, faults: Map[String, String]): Workload =
    name match {
      case "llm_dedup" => new QueryWorkload(inputs, Dedup, faults)
      case "lake_ingest" => new LakeWorkload(inputs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Declared query keys, each run as `SparkEntry.queries(key)(spark, dir)`
  * into the `noop` sink. A round is one pass over the keys in a fixed
  * order. Faults (tests only) make a key throw in the timed loop, or
  * return a wrong result to the verification. */
final class QueryWorkload(dir: String, keys: Seq[String],
                          faults: Map[String, String]) extends Workload {
  require(keys.nonEmpty, "no query keys")
  private lazy val registry = graft.SparkEntry.queries
  private var spark: SparkSession = _
  private val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def frame(spark: SparkSession, key: String): DataFrame = {
    if (faults.get(key).contains("throw"))
      throw new IllegalStateException(s"injected fault in $key")
    registry(key)(spark, dir)
  }
  private def noop(spark: SparkSession, key: String): Unit =
    frame(spark, key).write.format("noop").mode("overwrite").save()

  def prepare(spark: SparkSession, work: String): Unit = {
    keys.foreach(k => require(registry.contains(k), k))
    this.spark = spark
  }

  /** Each key once into parquet: the warm-up execution is also the
    * untimed verification execution the checker compares. */
  def warm(spark: SparkSession, out: String): Unit = keys.foreach { k =>
    try {
      val df = frame(spark, k)
      (if (faults.get(k).contains("wrong")) df.limit(0) else df)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$k")
      errors.remove(k)
    } catch { case e: Throwable => errors(k) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
  }
  def round(r: Int): Option[Seq[(String, String, () => Unit)]] =
    Some(keys.map(k => (k, "query", () => noop(spark, k))))

  /** The oracle SQL of every key, for the DuckDB comparison of the
    * warm-up outputs; a key that threw in the warm-up fails. */
  def verify(spark: SparkSession, out: String): Map[String, Any] = {
    val oracle = graft.SparkEntry.oracleSql
    Map("keys" -> keys, "oracle" -> keys.flatMap(k => oracle.get(k).map(k -> _)).toMap,
      "errors" -> errors.toMap)
  }
}

/** Writes beside reads on a `graft_delta` catalog table, driven by the
  * generator's script: per round an INSERT, a MERGE upsert, a DELETE, a
  * partition-pruned and a full aggregate SELECT, and the catch-up of the
  * table's change-feed stream. */
final class LakeWorkload(dir: String) extends Workload {
  private val script = new ObjectMapper().readTree(new File(s"$dir/script.json"))
  private val rounds = script.get("rounds").elements().asScala.toVector
  private val reads = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val scans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
  private var commitEnds = List.empty[Long]
  private val freshness = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var insertedBytes = 0L
  private var commits = 0
  private var spark: SparkSession = _
  private var work: String = _

  private def lakeDir: String =
    spark.conf.getOption("spark.graft.lakehouse.dir").getOrElse("target/lakehouse")
  private def tableDir = s"$lakeDir/delta/bench"
  private def view(file: String): String = {
    val v = "src_" + file.replaceAll("[^A-Za-z0-9]", "_")
    spark.read.parquet(s"$dir/$file").createOrReplaceTempView(v)
    v
  }
  private def fileBytes(file: String): Long = new File(s"$dir/$file").length()

  private def commitOps(r: Int): Seq[(String, String, () => Unit)] = {
    val op = rounds(r)
    val ins = op.get("insert").asText
    val mrg = op.get("merge").asText
    val dels = op.get("delete").elements().asScala.map(_.asLong).mkString(",")
    def commit(name: String, sql: String, bytes: Long): (String, String, () => Unit) =
      (name, "commit", () => {
      spark.sql(sql).collect()
      insertedBytes += bytes
      commits += 1
      commitEnds ::= System.nanoTime()
    })
    Seq(
      commit("insert", s"INSERT INTO graft_delta.bench SELECT * FROM ${view(ins)}",
        fileBytes(ins)),
      commit("merge", s"MERGE INTO graft_delta.bench t USING ${view(mrg)} s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v, note = s.note WHEN NOT MATCHED THEN INSERT *",
        fileBytes(mrg)),
      commit("delete", s"DELETE FROM graft_delta.bench WHERE k IN ($dels)", 0L))
  }

  private def readOps(r: Int): Seq[(String, String, () => Unit)] = {
    val part = rounds(r).get("part").asText
    def read(name: String, sql: String): (String, String, () => Unit) =
      (name, "read", () => {
      graft.plans.LakehouseSql.lastScans = Nil
      val rows = spark.sql(sql).collect()
      graft.plans.LakehouseSql.lastScans.foreach(s => scans += ((s.plannedFiles, s.totalFiles)))
      reads += Map("round" -> r, "query" -> name, "part" -> part,
        "rows" -> rows.map(_.toSeq.map {
          case null => null
          case x: java.lang.Number => x.longValue
          case x => x.toString
        }).toSeq)
      ()
    })
    Seq(
      read("read_part", "SELECT count(*) AS n, sum(v) AS sv FROM graft_delta.bench " +
        s"WHERE p = '$part'"),
      read("read_all", "SELECT p, count(*) AS n, sum(v) AS sv, max(k) AS mk " +
        "FROM graft_delta.bench GROUP BY p ORDER BY p"))
  }

  /** Delivers everything committed so far through the `graft-cdf`
    * source, tagging each micro-batch's rows with its batch id. */
  private def catchUp(): Unit = {
    val sink = s"$work/cdf"
    val write: (DataFrame, Long) => Unit = (df, id) =>
      df.withColumn("_batch", lit(id)).write.mode("append").parquet(sink)
    spark.readStream.format("graft.streaming.CdfSourceProvider")
      .option("path", tableDir).option("format", "delta").load()
      .writeStream.foreachBatch(write)
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
  }
  private def catchUpOp: (String, String, () => Unit) =
    ("catchup", "catchup", () => {
      catchUp()
      val end = System.nanoTime()
      commitEnds.foreach(c => freshness += (end - c) / 1e9)
      commitEnds = Nil
    })

  def prepare(spark: SparkSession, work: String): Unit = {
    this.spark = spark
    this.work = work
    Seq(reads, scans, freshness).foreach(_.clear())
    Files.createDirectories(Paths.get(work))
    spark.sql("CREATE OR REPLACE TABLE graft_delta.bench PARTITIONED BY (p) AS " +
      s"SELECT * FROM ${view("base.parquet")}").collect()
    insertedBytes = fileBytes("base.parquet")
    commits = 1
    catchUp()
    commitEnds = Nil
  }

  /** The first timed round, run on the first set-up's table: the timed
    * loop runs it again on the last set-up's fresh table. */
  def warm(spark: SparkSession, out: String): Unit = round(0).get.foreach(_._3())

  def round(r: Int): Option[Seq[(String, String, () => Unit)]] =
    if (r >= rounds.size) None
    else {
      if (r == 0) reads.clear()
      Some(commitOps(r) ++ readOps(r) :+ catchUpOp)
    }

  def verify(spark: SparkSession, out: String): Map[String, Any] = {
    val error =
      try {
        spark.sql("SELECT k, p, v, note FROM graft_delta.bench").coalesce(1)
          .write.mode("overwrite").parquet(s"$out/lake")
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    Map("reads" -> reads.toList, "cdf_dir" -> s"$work/cdf", "freshness" -> freshness.toList,
      "error" -> error)
  }

  override def layers(ops: Seq[OpRecord]): Map[String, Double] = {
    def mean(kind: String): Double = {
      val xs = ops.filter(_.kind == kind).map(o => o.endS - o.startS)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val root = Paths.get(tableDir)
    val files = Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toList
    val meta = files.filter(f => root.relativize(f).getName(0).toString == "_delta_log")
    Map(
      "lake.delta.commit_s" -> mean("commit"),
      "lake.delta.read_s" -> mean("read"),
      "lake.delta.bytes_per_user_byte" ->
        files.map(Files.size).sum.toDouble / math.max(1L, insertedBytes),
      "lake.delta.meta_bytes_per_commit" -> meta.map(Files.size).sum.toDouble /
        math.max(1, commits),
      "lake.delta.live_files" -> scans.lastOption.map(_._2.toDouble)
        .getOrElse(files.count(f => !meta.contains(f) && f.toString.endsWith(".parquet"))
          .toDouble),
      "lake.delta.planned_file_ratio" -> (if (scans.isEmpty) 1.0
        else scans.map(_._1).sum.toDouble / scans.map(_._2).sum))
  }
}
