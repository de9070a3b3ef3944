package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine.Warehouse

/** One closed-loop pass over a workload's operation stream, against its own
  * fresh warehouse root (round 0 is the untimed warm-up). Every op is timed
  * from outside the engine; an op that throws counts as failed and the
  * stream goes on. */
final class Round(val index: Int, val wh: Warehouse, probe: Probe,
                  runner: Runner) {
  /** Run one op. `body` makes the layer calls (through [[call]]) and returns
    * the rows the client received; the rows are checked after the stream. */
  def op(name: String, write: Boolean)(body: => Seq[Row]): Option[Seq[Row]] = {
    val id = runner.nextOpId()
    probe.beginOp(id, name)
    val t0 = System.nanoTime()
    val out = try Right(probe.span(name)(body)(identity))
      catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    probe.endOp()
    out match {
      case Right(rows) =>
        runner.record(OpRec(id, index, name, write, ms, ok = true, rows.size, ""))
        Some(rows)
      case Left(e) =>
        runner.record(OpRec(id, index, name, write, ms, ok = false, 0,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
        None
    }
  }

  /** One call into a layer: `call` is the public engine function, `finish`
    * the client's retrieval of its result. Traced runs record a span. */
  def call[A, B](name: String)(c: => A)(finish: A => B): B =
    probe.span(name)(c)(finish)

  /** A call whose result the client does not read back. */
  def act(name: String)(c: => Unit): Unit = probe.span(name)(c)(_ => ())

  /** A write op: state changes, no rows come back. */
  def write(name: String)(body: => Unit): Unit = { op(name, write = true) { body; Nil }; () }

  private val seen = mutable.Map.empty[String, Int]

  /** A read op: one layer call builds a frame, the client collects it
    * (`write` marks a call that also changes stored state). The rows are
    * checked against every other round's (and kept for the oracle when the
    * op is the first of its name in the round). */
  def read(name: String, layer: String, write: Boolean = false)(
      mk: => DataFrame): Option[Seq[Row]] = {
    var schema: StructType = null
    val rows = op(name, write) {
      call(layer)(mk) { df => schema = df.schema; df.collect().toSeq }
    }
    val n = seen.getOrElse(name, 0)
    seen(name) = n + 1
    rows.foreach(rs => runner.same(if (n == 0) name else s"$name#$n", schema, rs))
    rows
  }
}

final case class OpRec(id: Int, round: Int, name: String, write: Boolean,
                       ms: Double, ok: Boolean, rows: Int, err: String)

/** Per-run bookkeeping shared by all rounds: op records and the
  * correctness ledger. */
final class Runner(spark: SparkSession) {
  private var opSeq = 0
  val ops = mutable.ArrayBuffer.empty[OpRec]
  private val firstRows = mutable.LinkedHashMap.empty[String, (StructType, Seq[Row])]
  private val firstDigest = mutable.Map.empty[String, String]
  var checked = 0
  var wrong = 0
  val problems = mutable.ArrayBuffer.empty[String]

  def nextOpId(): Int = { opSeq += 1; opSeq }
  def record(r: OpRec): Unit = synchronized {
    if (r.round == 0 && r.ok) warmOps += r else ops += r
  }
  /** Warm-up op records (diagnostics only; a failed warm-up op counts). */
  val warmOps = mutable.ArrayBuffer.empty[OpRec]

  /** Record a check outcome. */
  def check(ok: Boolean, what: => String): Unit = {
    checked += 1
    if (!ok) { wrong += 1; if (problems.size < 50) problems += what }
  }

  /** Every round must return the same rows for the same op: the first
    * round's rows are kept (for the oracle comparison), later rounds are
    * compared by an order-independent digest. */
  def same(key: String, schema: StructType, rows: Seq[Row]): Unit = {
    val d = Main.digest(rows)
    firstDigest.get(key) match {
      case None =>
        firstDigest(key) = d
        firstRows(key) = (schema, rows)
      case Some(d0) => check(d0 == d, s"$key: rows differ between rounds")
    }
  }

  /** Write the kept rows of every op the oracle checks. */
  def writeKept(dir: String, keys: Set[String]): Unit =
    firstRows.foreach { case (k, (schema, rows)) =>
      if (keys(k))
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
          .write.parquet(s"$dir/$k")
    }
}

/** A workload: its inputs (read once at set-up) and its op stream. */
trait Workload {
  /** Op keys whose first-round rows the Python side compares with DuckDB. */
  def oracleOps: Set[String]
  /** Catalog oracle SQL the Python side runs (key → SQL). */
  def oracleSql: Map[String, String] = Map.empty
  def round(r: Round): Unit
  /** Untimed checks after the stream. */
  def verify(runner: Runner, keptRoot: String): Unit = ()
  /** Extra facts for the Python side (JSON object members). */
  def facts: Seq[(String, String)] = Nil
}

object Main {
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\u0002").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Bytes under `root`: file sizes plus 4 KiB per directory (so an
    * existing root never reads 0); 0 when it does not exist. */
  def duBytes(root: File): Long =
    if (!root.exists()) 0L
    else {
      var total = 0L
      Files.walk(root.toPath).forEach { p =>
        try {
          val b = Files.getAttribute(p, "unix:size").asInstanceOf[Long]
          total += (if (Files.isDirectory(p)) 4096L else b)
        } catch { case _: Throwable => }
      }
      total
    }

  def deleteTree(root: File): Unit =
    if (root.exists()) {
      val paths = new java.util.ArrayList[java.nio.file.Path]()
      Files.walk(root.toPath).forEach(p => paths.add(p))
      paths.asScala.reverse.foreach(p => Files.deleteIfExists(p))
    }

  private def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).get
      line.replaceAll("[^0-9]", "").toLong / 1024.0
    } catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = kv("workload")
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val inputDir = kv("inputs")
    val runDir = kv("run")
    val cpus = kv("cpus")
    val launchMs = kv("launch_ms").toDouble

    val spark = graft.engine.SessionDefaults.withLocalIo(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe(spark.sparkContext, traced)
    val sessionMs = probe.nowMs()
    val runner = new Runner(spark)
    val wl: Workload = workload match {
      case "warehouse_etl" => new WarehouseEtl(spark, inputDir)
      case "index_lifecycle" => new IndexLifecycle(spark, inputDir)
      case "corpus_kernels" => new CorpusKernels(spark, inputDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val whRoot = new File(s"$runDir/wh")
    def newRound(i: Int): Round =
      new Round(i, new Warehouse(spark, s"$whRoot/r$i"), probe, runner)

    // untimed warmup over the workload's own op shapes (absorbs cold JIT)
    wl.round(newRound(0))
    deleteTree(new File(s"$whRoot/r0"))
    val setupEnd = probe.nowMs()

    // timed closed loop: whole rounds until the time budget is spent
    final case class RoundStat(i: Int, traced: Boolean, t0: Double, t1: Double,
                               wallS: Double, taskS: Double, storedB: Long)
    val rounds = mutable.ArrayBuffer.empty[RoundStat]
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    // one round at least; a traced run makes three (untraced, traced,
    // untraced) so the tracing overhead is measured inside one run against
    // its two neighbours. Another round starts only while it is expected
    // to end within the budget.
    val minRounds = if (traced) 3 else 1
    var i = 1
    while (i <= minRounds || elapsed + elapsed / (i - 1) <= seconds) {
      val tracedRound = traced && i % 2 == 0
      probe.active = tracedRound
      val task0 = probe.taskSeconds
      val (t0, n0) = (probe.nowMs(), System.nanoTime())
      wl.round(newRound(i))
      val (t1, n1) = (probe.nowMs(), System.nanoTime())
      probe.active = false
      probe.drain()
      val root = new File(s"$whRoot/r$i")
      rounds += RoundStat(i, tracedRound, t0, t1, (n1 - n0) / 1e9,
        probe.taskSeconds - task0, duBytes(root))
      if (i != 1) deleteTree(root)
      i += 1
    }

    // untimed correctness checks
    wl.verify(runner, s"$whRoot/r1")
    val checks = s"$runDir/checks"
    runner.writeKept(checks, wl.oracleOps)
    val hwm = vmHwmMb()
    probe.drain()
    if (traced)
      Files.writeString(Paths.get(s"$runDir/trace.json"),
        probe.traceJson(rounds.map(r => (r.i, r.traced, r.t0, r.t1)).toSeq))
    spark.stop()
    val tmpLeft = duBytes(new File(s"$runDir/tmp")) + duBytes(new File(s"$runDir/local"))

    def opsJson(ops: Seq[OpRec]) = ops.map(o =>
      s"""{"id":${o.id},"round":${o.round},"name":${Json.str(o.name)},"write":${o.write},"ms":${o.ms},"ok":${o.ok},"rows":${o.rows},"err":${Json.str(o.err)}}""")
      .mkString(",")
    val roundsJson = rounds.map(r =>
      s"""{"round":${r.i},"traced":${r.traced},"wall_s":${r.wallS},"task_s":${r.taskS},"stored_bytes":${r.storedB}}""")
      .mkString(",")
    val oracle = wl.oracleSql.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString(",")
    val facts = wl.facts.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
    val json =
      s"""{"launch_ms":$launchMs,"session_ms":$sessionMs,"setup_end_ms":$setupEnd,
         |"rounds":[$roundsJson],"ops":[${opsJson(runner.ops.toSeq)}],
         |"warm_ops":[${opsJson(runner.warmOps.toSeq)}],
         |"checked":${runner.checked},"wrong":${runner.wrong},
         |"problems":[${runner.problems.map(Json.str).mkString(",")}],
         |"peak_rss_mb":$hwm,"tmp_left_bytes":$tmpLeft,
         |"checks_dir":${Json.str(checks)},
         |"oracle_sql":{$oracle},"facts":{$facts}}""".stripMargin
    Files.writeString(Paths.get(s"$runDir/result.json"), json)
  }
}

/** Class-loading pass for the build's class-data-sharing archive: starts a
  * session configured as a run's and runs a few query shapes (parquet
  * write and read, join, aggregate, window), so the JVM that dumps the
  * archive has loaded the classes every run needs at start-up. */
object CdsTraining {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.engine.SessionDefaults.withLocalIo(SparkSession.builder())
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    val df = spark.range(2000).selectExpr("id", "id % 7 AS k",
      "concat('w', cast(id % 13 AS string)) AS t")
    df.write.parquet(s"$dir/t")
    val back = spark.read.parquet(s"$dir/t")
    back.join(back.groupBy("k").agg(count(lit(1)).as("n")), "k")
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")))
      .filter(col("r") < 3).collect()
    spark.stop()
  }
}
