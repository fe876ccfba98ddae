package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** One timed step of an op: a CLI call or one query. `cpuS` is the
  * process CPU time (all threads) the step used. */
final case class Step(name: String, startMs: Long, endMs: Long, cpuS: Double,
    ok: Boolean, error: String)

/** What a workload's op did, plus its output check values. The op fails
  * when a step fails or `checkError` is set; the harness still keeps its
  * timing.
  */
final case class OpOutcome(steps: Seq[Step], check: Map[String, Any],
    checkError: Option[String])

trait Workload {
  /** Untimed per-JVM preparation; returns what the CLI config parse cost. */
  def prepare(spark: SparkSession): Double
  /** Runs one op on `spark`; `rep` 0 is the cold op. */
  def run(spark: SparkSession, rep: Int): OpOutcome
}

object Workload {
  def apply(name: String, work: String): Workload = name match {
    case "cli_roundtrip" => new CliRoundtrip(work)
    case "query_mix" => new QueryMix(work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timed(name: String)(body: => Boolean): Step = {
    val t0 = System.currentTimeMillis()
    val c0 = processCpuNs()
    val (ok, err) =
      try { if (body) (true, "") else (false, "non-zero exit") }
      catch { case e: Throwable => (false, s"${e.getClass.getName}: ${e.getMessage}") }
    Step(name, t0, System.currentTimeMillis(), (processCpuNs() - c0) / 1e9, ok, err)
  }

  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Order-free multiset hash: the sum of each item's first 8 md5 bytes,
    * modulo 2^64, as an unsigned decimal. The generator computes the same
    * over what it wrote.
    */
  def multisetHash(items: Iterable[String]): String = {
    var acc = 0L
    items.foreach { s =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      acc += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
    }
    java.lang.Long.toUnsignedString(acc)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def csv(spark: SparkSession, path: String): Array[Row] =
    spark.read.option("header", true).option("multiLine", true)
      .option("escape", "\"").csv(path).collect()
}

import Workload._

/** `Main.run --load` of the generated CSV network into an empty target,
  * then `Main.run` extract of the loaded target with the same operation
  * file: a query-seeded Account fixpoint over ParentId, then Contact as
  * descendents with its ReportsToId fixpoint.
  */
final class CliRoundtrip(work: String) extends Workload {
  private val opFile = s"$work/op.yml"
  private val describes = s"$work/describes"
  private val runDir = new File(s"$work/run")

  /** Parses the operation file and describes once, untimed, to report what
    * the config parse costs. */
  def prepare(spark: SparkSession): Double = {
    val yaml = new String(Files.readAllBytes(Paths.get(opFile)), UTF_8)
    val t0 = System.nanoTime()
    graft.core.Catalog.fromDescribeDir(new File(describes))
    val parsed = graft.config.OperationConfig.parse(yaml)
    val ms = (System.nanoTime() - t0) / 1e6
    require(parsed.isRight, s"operation file does not parse: $parsed")
    ms
  }

  private def cli(args: String*): Boolean =
    graft.cli.Main.run((opFile +: args).toArray) == 0

  def run(spark: SparkSession, rep: Int): OpOutcome = {
    deleteTree(runDir)
    runDir.mkdirs()
    val dir = runDir.getPath
    val load = timed("load") {
      cli("--load", "--describe-dir", describes, "--data-dir", s"$work/src",
        "--out-dir", s"$dir/target")
    }
    val extract = timed("extract") {
      load.ok && cli("--describe-dir", describes, "--data-dir", s"$dir/target",
        "--out-dir", s"$dir/extracted")
    }
    val steps = Seq(load, extract)
    if (!extract.ok) return OpOutcome(steps, Map.empty, None)
    try {
      val results = Seq("Account", "Contact").flatMap(t =>
        csv(spark, s"$dir/target/$t-results.csv"))
      val check = networkCheck(spark, s"$dir/extracted") ++ Map(
        "result_rows" -> results.length,
        "result_errors" -> results.count(_.getAs[String]("Error") != null))
      OpOutcome(steps, check, None)
    } catch { case e: Throwable => OpOutcome(steps, Map.empty, Some(e.toString)) }
  }

  /** Counts, name multisets, FK edges expressed by names (the load gave
    * every record a new id), and references that do not resolve inside the
    * extracted slice.
    */
  private def networkCheck(spark: SparkSession, dir: String): Map[String, Any] = {
    val acc = csv(spark, s"$dir/Account.csv")
    val con = csv(spark, s"$dir/Contact.csv")
    def s(r: Row, c: String) = r.getAs[String](c)
    val accName = acc.map(r => s(r, "Id") -> s(r, "Name")).toMap
    val conName = con.map(r => s(r, "Id") -> s(r, "LastName")).toMap
    var dangling = 0
    def resolve(m: Map[String, String], id: String): String =
      if (id == null) "" else m.getOrElse(id, { dangling += 1; "" })
    val accEdges = acc.filter(r => s(r, "ParentId") != null)
      .map(r => s(r, "Name") + "\u0001" + resolve(accName, s(r, "ParentId")))
    val conEdges = con.map(r => s(r, "LastName") + "\u0001" +
      resolve(accName, s(r, "AccountId")) + "\u0001" +
      resolve(conName, s(r, "ReportsToId")))
    Map(
      "accounts" -> acc.length, "contacts" -> con.length,
      "account_names" -> multisetHash(acc.map(s(_, "Name"))),
      "contact_names" -> multisetHash(con.map(s(_, "LastName"))),
      "account_edges" -> multisetHash(accEdges),
      "contact_edges" -> multisetHash(conEdges),
      "dangling" -> dangling)
  }
}

/** One pass over registered queries in the generator's order. Each query
  * is timed to its collected result. The cold pass writes every result
  * as parquet for the oracle check; every pass reports a fingerprint per
  * query, which must not change between passes.
  */
final class QueryMix(work: String) extends Workload {
  private val dataDir = s"$work/data"
  private val order = new String(Files.readAllBytes(Paths.get(s"$work/queries.txt")),
    UTF_8).split('\n').map(_.trim).filter(_.nonEmpty).toSeq

  def prepare(spark: SparkSession): Double = {
    val missing = order.filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")
    Files.write(Paths.get(s"$work/oracle_sql.json"), Json.write(
      order.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap).getBytes(UTF_8))
    0.0
  }

  def run(spark: SparkSession, rep: Int): OpOutcome = {
    val prints = mutable.LinkedHashMap[String, Any]()
    val steps = order.map { q =>
      var result: Option[(Array[Row], org.apache.spark.sql.types.StructType)] = None
      val step = timed(q) {
        val df = graft.SparkEntry.queries(q)(spark, dataDir)
        result = Some((df.collect(), df.schema))
        true
      }
      result.foreach { case (rows, schema) =>
        prints(q) = Map("rows" -> rows.length,
          "hash" -> multisetHash(rows.map(_.toString)))
        if (rep == 0) {
          val rowList = java.util.Arrays.asList(rows: _*)
          spark.createDataFrame(rowList, schema).coalesce(1).write
            .mode("overwrite").parquet(s"$work/results/$q")
        }
      }
      step
    }
    OpOutcome(steps, prints.toMap, None)
  }
}
