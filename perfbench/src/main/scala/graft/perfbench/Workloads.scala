package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.perfbench.Main.{Op, Phase, Workload}
import graft.sources.SnapshotLog

/** `queries_sf01` and `tpch_scaled`: named `SparkEntry` queries over the
  * plan's data directory, each run to a `noop` sink. The warm pass writes
  * every result as parquet under `out/results/<name>` for the DuckDB oracle
  * check that `run.py` makes after the JVM exits. */
final class QueryWorkload(spark: SparkSession, plan: Map[String, Any], out: String)
    extends Workload {
  private val data = plan("data").toString
  private val names = plan("queries").asInstanceOf[List[String]]
  private val fns = SparkEntry.queries
  private val rows = mutable.Map.empty[String, Long]
  private val warmErrors = mutable.Map.empty[String, String]
  private val warmS = mutable.LinkedHashMap.empty[String, Double]

  def warm(): Unit = names.foreach { n =>
    val dir = s"$out/results/$n"
    val t0 = System.nanoTime()
    try {
      fns(n)(spark, data).write.mode("overwrite").parquet(dir)
      rows(n) = QueryWorkload.parquetRows(spark, dir)
    } catch { case e: Throwable => warmErrors(n) = e.toString }
    warmS(n) = (System.nanoTime() - t0) / 1e9
  }

  def pass(p: Int): Seq[Op] = names.map(n => Op(n, "query", () => {
    fns(n)(spark, data).write.format("noop").mode("overwrite").save()
    rows.getOrElse(n, -1L)
  }))

  def finish(): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.write(oracle))
    Map("warm_errors" -> warmErrors.toMap, "warm_s" -> warmS.toMap)
  }

  /** Time spent in each query module's queries, per pass. */
  override def layers(ph: Phase, tr: Tracer): Seq[(String, Double, String)] =
    QueryWorkload.modules.filter(m => names.exists(_.startsWith(m._1))).map {
      case (prefix, module) => (s"queries.${module}_s",
        ph.samples.filter(_.name.startsWith(prefix)).map(_.seconds).sum / ph.passes, "s")
    }
}

object QueryWorkload {
  /** Row count of a parquet output directory, from its footers (no Spark job). */
  def parquetRows(spark: SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Query-name prefix -> the module that defines that family. */
  val modules: Seq[(String, String)] = Seq(
    "tpch_" -> "TpchQueries", "dedup_" -> "DedupQueries", "ann_" -> "SimQueries",
    "text_" -> "TextQueries", "composite_" -> "CompositeQueries",
    "pipeline_" -> "PipelineQueries")
}

/** `table_mor`: one fresh SnapshotLog table per pass, driven through the
  * plan's op list (see `gen.mor_ops`): seeded lineitem-shaped appends build
  * the history, then merge-on-read deletes, updates and upserts interleave
  * with point and range reads at the head and through `asOfVersion`, then
  * one `rewriteDataFiles` compaction and reads of the compacted head.
  * The check replays the same op list on plain DataFrames. */
final class MorWorkload(spark: SparkSession, plan: Map[String, Any], out: String)
    extends Workload {
  private type Spec = Map[String, Any]
  private val ops = plan("ops").asInstanceOf[List[Spec]]
  private val warmOps = plan("warm_ops").asInstanceOf[List[Spec]]
  private def root(p: String) = s"$out/mor/$p"
  private var last: Option[(String, Array[Int])] = None

  private def num(o: Spec, k: String): Long = o(k) match {
    case b: BigInt => b.toLong
    case d: Double => d.toLong
    case x => x.toString.toLong
  }

  /** Lineitem-shaped rows with l_orderkey in [key0, key0 + rows), every
    * other column a hash of (seed, key, column) — a pure function of them. */
  def batch(seed: Long, key0: Long, rows: Long): DataFrame = {
    def h(c: Int, mod: Long): Column = pmod(xxhash64(lit(seed), col("id"), lit(c)), lit(mod))
    def pick(c: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (h(c, xs.size) + 1).cast("int"))
    spark.range(key0, key0 + rows, 1, 1).select(
      col("id").as("l_orderkey"),
      h(1, 20000L).as("l_partkey"),
      h(2, 1000L).as("l_suppkey"),
      (h(3, 7L) + 1).cast("int").as("l_linenumber"),
      (h(4, 50L) + 1).cast("double").as("l_quantity"),
      (h(5, 10409923L) / 100.0 + 900.0).as("l_extendedprice"),
      (h(6, 11L) / 100.0).as("l_discount"),
      (h(7, 9L) / 100.0).as("l_tax"),
      pick(8, "A", "N", "R").as("l_returnflag"),
      pick(9, "F", "O").as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + h(10, 2500L) * 86400L).as("l_shipdate"))
  }

  private def range(o: Spec): Column = col("l_orderkey").between(num(o, "lo"), num(o, "hi"))
  private def ts(i: Int): Long = 1000000L + i * 1000L

  private def scan(r: String, version: Option[Int]): DataFrame = {
    val rd = spark.read.format("snapshotlog")
    version.fold(rd)(v => rd.option("asOfVersion", v.toLong)).load(r)
  }

  /** The op list bound to table root `r`; `versions(i)` is set to the table
    * version op i produced (reads name their version by that index). */
  private def bind(list: List[Spec], r: String, versions: Array[Int]): Seq[Op] =
    list.zipWithIndex.map { case (o, i) =>
      val name = o("op").toString
      Op(name, o("kind").toString, () => {
        def v(x: Int): Long = { versions(i) = x; -1L }
        def at = Option(o.getOrElse("at_op", null)).map(a => versions(a.toString.toInt))
        name match {
          case "append" =>
            v(SnapshotLog.commit(batch(num(o, "seed"), num(o, "key0"), num(o, "rows")),
              r, overwrite = false, commitTsMs = ts(i)))
          case "delete" => v(SnapshotLog.deleteWhereMoR(spark, r, range(o), ts(i)))
          case "update" => v(SnapshotLog.updateWhereMoR(spark, r, range(o),
            Map("l_discount" -> lit(o("discount").toString.toDouble)), ts(i)))
          case "upsert" => v(SnapshotLog.upsertEqualityMoR(spark, r,
            batch(num(o, "seed"), num(o, "lo"), num(o, "rows")), Seq("l_orderkey"), ts(i)))
          case "compact" => v(SnapshotLog.rewriteDataFiles(spark, r, ts(i)))
          case "point" =>
            scan(r, at).filter(col("l_orderkey") === num(o, "key")).collect().length.toLong
          case "range" => scan(r, at).filter(range(o)).collect().length.toLong
        }
      })
    }

  def warm(): Unit = {
    val r = root("warm")
    bind(warmOps, r, new Array[Int](warmOps.size)).foreach(_.run())
    delete(r)
  }

  def pass(p: Int): Seq[Op] = {
    val r = root(s"p$p")
    val versions = new Array[Int](ops.size)
    last = Some((r, versions))
    bind(ops, r, versions)
  }

  /** Only the newest pass's table is kept, for the checks. */
  override def afterPass(p: Int): Unit = delete(root(s"p${p - 1}"))

  /** The table after op `upTo`, replayed on plain DataFrames. */
  private def replay(upTo: Int): DataFrame =
    ops.take(upTo + 1).foldLeft(batch(0L, 0L, 0L)) { (df, o) =>
      o("op") match {
        case "append" => df.unionByName(batch(num(o, "seed"), num(o, "key0"), num(o, "rows")))
        case "delete" => df.filter(!range(o))
        case "update" => df.withColumn("l_discount",
          when(range(o), lit(o("discount").toString.toDouble)).otherwise(col("l_discount")))
        case "upsert" =>
          val b = batch(num(o, "seed"), num(o, "lo"), num(o, "rows"))
          df.join(b.select("l_orderkey"), Seq("l_orderkey"), "left_anti").unionByName(b)
        case _ => df
      }
    }

  /** Same rows, as multisets (both sides are small: collected and sorted). */
  private def same(got: DataFrame, exp: DataFrame): Boolean = {
    def rows(df: DataFrame) = df.select(exp.columns.map(col): _*).collect().map(_.toString).sorted
    rows(got).sameElements(rows(exp))
  }

  def finish(): Map[String, Any] = {
    val (r, versions) = last.get
    // the time-travel check uses the version of the last DML before compaction
    val travel = ops.lastIndexWhere(_("kind") == "dml")
    val checks = Map(
      "head" -> same(scan(r, None), replay(ops.size - 1)),
      s"version_${versions(travel)}" -> same(scan(r, Some(versions(travel))), replay(travel)))
    val plain = s"$out/plain"
    scan(r, None).coalesce(1).write.mode("overwrite").parquet(plain)
    Map("checks" -> checks, "bytes_stored_per_user_byte" -> bytes(Paths.get(r)).toDouble /
      bytes(Paths.get(plain)))
  }

  /** File counts and bytes of the newest pass's table, and the compaction. */
  override def layers(ph: Phase, tr: Tracer): Seq[(String, Double, String)] = {
    val (r, versions) = last.get
    // by top directory: _log/ manifests, data/ and deletes/ parquet, anything
    // else (null-count, bloom, ngram) a sidecar; Hadoop's hidden .crc and
    // _SUCCESS files left out
    val files = walk(Paths.get(r)).filterNot { p =>
      val n = p.getFileName.toString
      n.startsWith(".") || n.startsWith("_")
    }
    val byKind = files.groupBy(p => Paths.get(r).relativize(p).getName(0).toString match {
      case "_log" => "log"
      case "data" => "data"
      case "deletes" => "deletes"
      case _ => "sidecars"
    })
    def count(k: String) = byKind.getOrElse(k, Nil).size.toDouble
    def size(k: String) = byKind.getOrElse(k, Nil).map(Files.size).sum.toDouble
    val snaps = SnapshotLog.snapshots(spark, r)
    val ci = ops.indexWhere(_("op") == "compact")
    val rewritten = snaps.find(_.version == versions(ci)).flatMap { after =>
      snaps.filter(_.version < after.version).lastOption.map { before =>
        before.files.filterNot(after.files.toSet).map(f => before.sizes.getOrElse(f,
          Files.size(if (f.startsWith("file:")) Paths.get(java.net.URI.create(f))
                     else Paths.get(f)))).sum.toDouble
      }
    }.getOrElse(0.0)
    val compactS = ph.samples.filter(_.name == "compact").map(_.seconds).sum / ph.passes
    Seq(
      ("snapshotlog.versions", snaps.size.toDouble, "count"),
      ("snapshotlog.data_files", count("data"), "count"),
      ("snapshotlog.delete_files", count("deletes"), "count"),
      ("snapshotlog.bytes_data", size("data"), "bytes"),
      ("snapshotlog.bytes_deletes", size("deletes"), "bytes"),
      ("snapshotlog.bytes_sidecars", size("sidecars"), "bytes"),
      ("snapshotlog.bytes_log", size("log"), "bytes"),
      ("snapshotlog.compact_s", compactS, "s"),
      ("snapshotlog.compact_bytes_rewritten", rewritten, "bytes"))
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toList

  private def bytes(p: Path): Long = walk(p).map(Files.size).sum

  private def delete(r: String): Unit = {
    val p = Paths.get(r)
    if (Files.exists(p)) // deepest first, so directories are empty when deleted
      Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
  }
}
