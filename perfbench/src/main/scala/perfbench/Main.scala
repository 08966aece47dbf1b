package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.etl._
import graft.queries.DimOps
import graft.streaming.EventStreams

/** Lifecycle benchmark harness. Runs one workload against the engine's
  * public entry points in a closed loop (one client: the next command
  * starts only after the previous one returns) for a fixed window, and
  * writes the raw measurements as one JSON document. Inputs come from
  * the generator (`gen.py`); metrics, spans and the oracle check are
  * computed by `run.py` from this document.
  *
  * Usage: Main <workload> <workDir> <seconds> <trace 0|1> <result.json>
  */
object Main {

  /** Epoch milliseconds with sub-millisecond resolution, on the same
    * clock as the listener bus timestamps. */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** The benchmark's own spans (command level) and per-cycle counts. */
  final class Clock {
    val spans = mutable.Buffer[Map[String, Any]]()
    val counts = mutable.Buffer[Map[String, Any]]()
    var cycle = -1
    def count(name: String, value: Long): Unit =
      counts += Map("name" -> name, "cycle" -> cycle, "value" -> value)
    def command[T](name: String)(body: => T): T = {
      val t0 = nowMs()
      try body
      finally spans += Map("kind" -> "command", "name" -> name, "cycle" -> cycle,
        "start" -> t0, "end" -> nowMs())
    }
  }

  final case class CycleOut(rows: Long, attempted: Int, failures: Seq[String])

  val WarmupSeconds = 10

  trait Workload {
    def setup(): Unit
    def cycle(i: Int, clock: Clock): CycleOut
    /** Everything the oracle needs, gathered after the timed window. */
    def outputs(): Map[String, Any]
    def close(): Unit = ()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, secondsArg, traceArg, resultPath) = args
    val mainStartMs = System.currentTimeMillis().toDouble
    val seconds = secondsArg.toDouble
    val tracing = traceArg == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    DialectShims.registerAll(spark)
    val sessionReadyMs = nowMs()

    val monitor = new Monitor()
    val wl: Workload = workload match {
      case "nightly_load" => new NightlyLoad(spark, workDir, monitor)
      case "intraday" => new Intraday(spark, workDir, monitor)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val trace = new Trace(spark)
    val clock = new Clock
    val failures = mutable.Buffer[String]()
    var attempted = 0
    def runCycle(i: Int): CycleOut = {
      clock.cycle = i
      val out = try wl.cycle(i, clock) catch {
        case NonFatal(e) => CycleOut(0L, 1, Seq(s"cycle $i threw: $e"))
      }
      attempted += out.attempted
      failures ++= out.failures
      out
    }

    wl.setup()
    val preloadEndMs = nowMs()
    // Untimed warm-up (JIT, class loading, codegen and catalog state):
    // at least one cycle and at least WarmupSeconds, so that short
    // cycles are past their first, slowest repetitions when timing starts.
    var w = -1
    while (w == -1 || nowMs() - preloadEndMs < WarmupSeconds * 1000) {
      runCycle(w)
      w -= 1
    }
    val setupEndMs = nowMs()

    // Timed window. With tracing on, cycles alternate traced and
    // untraced so the tracing overhead is measured in the same JVM; the
    // traced cycle goes first, so residual warm-up in the first cycle
    // can only overstate that overhead.
    val cycles = mutable.Buffer[Map[String, Any]]()
    val minCycles = if (tracing) 2 else 1
    val windowStart = nowMs()
    var i = 0
    while (i < minCycles || nowMs() - windowStart < seconds * 1000) {
      val traced = tracing && i % 2 == 0
      if (traced) trace.enable() else trace.disable()
      val t0 = nowMs()
      val out = runCycle(i)
      val t1 = nowMs()
      cycles += Map("cycle" -> i, "start" -> t0, "end" -> t1, "traced" -> traced,
        "rows" -> out.rows)
      // the listener bus is asynchronous: let the traced cycle's last
      // events arrive before the listeners are removed
      if (traced) trace.drain()
      i += 1
    }
    trace.disable()

    val outputs = try wl.outputs() catch {
      case NonFatal(e) => failures += s"collecting outputs threw: $e"; Map.empty[String, Any]
    }
    wl.close()
    val monitorEvents = monitor.events.map { e =>
      Map("target" -> e.target, "step" -> e.step, "event" -> e.event,
        "elapsed" -> e.elapsedSeconds, "ts" -> e.ts.getOrElse(0L).toDouble,
        "rows" -> e.rowcount.getOrElse(-1L),
        "has_metrics" -> e.metrics.isDefined) ++
        e.metrics.map(m => Map("files_read" -> m.filesRead, "bytes_read" -> m.bytesRead,
          "shuffle_bytes" -> m.shuffleBytesWritten, "files_written" -> m.filesWritten,
          "bytes_written" -> m.bytesWritten, "rows_written" -> m.rowsWritten))
          .getOrElse(Map.empty)
    }
    val result = Map(
      "workload" -> workload,
      "peak_rss_kb" -> peakRssKb(),
      "main_start_ms" -> mainStartMs,
      "session_ready_ms" -> sessionReadyMs,
      "preload_end_ms" -> preloadEndMs,
      "setup_end_ms" -> setupEndMs,
      "cycles" -> cycles.toSeq,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "commands" -> clock.spans.toSeq,
      "counts" -> clock.counts.toSeq,
      "monitor" -> monitorEvents,
      "trace" -> (if (tracing) trace.records.toArray.toSeq else Seq.empty),
      "env" -> Map(
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "master" -> spark.sparkContext.master),
      "outputs" -> outputs)
    Files.write(Paths.get(resultPath), Json.write(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** VmHWM of this JVM: its peak resident set, in kB. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def catalogLocation(spark: SparkSession, name: TableName): Option[String] =
    if (!spark.catalog.tableExists(name.quoted)) None
    else Some(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name.table, Some(name.schema)))
      .location.getPath)

  /** Published (standard) location of each table, for the oracle, which
    * reads the build directories directly; plus every location a live
    * catalog entry references at any lifecycle position (standard,
    * staging, backup), for the storage ratio. */
  def tableOutputs(spark: SparkSession, names: Seq[TableName]): Map[String, Any] = {
    val positions = Seq(SchemaPosition.Standard, SchemaPosition.Staging, SchemaPosition.Backup)
    Map(
      "tables" -> names.flatMap(n => catalogLocation(spark, n).map(n.identifier -> _)).toMap,
      "live" -> names.flatMap(n => positions.flatMap(p => catalogLocation(spark, n.inPosition(p))))
        .distinct)
  }

  private def tableRelations(rels: Seq[Relation]): Seq[Relation] = rels.filterNot(_.isView)

  /** discover → order → build into staging → publish → check
    * constraints → unload of the reporting schema. Warm-up cycles read a
    * small sample of the same sources: they exercise every code path
    * at a fraction of the cost of a full cycle. */
  final class NightlyLoad(spark: SparkSession, workDir: String, monitor: Monitor)
      extends Workload {
    private val designs = s"$workDir/designs"
    private var last: Seq[Relation] = Seq.empty

    def setup(): Unit = ()

    def cycle(i: Int, clock: Clock): CycleOut = {
      val failures = mutable.Buffer[String]()
      val rels = clock.command("discover")(FileSets.discover(designs))
      val ordered = clock.command("order")(
        Dag.selectInExecutionOrder(rels, TableSelector.all))
      // a fresh Warehouse per load, as each `load` invocation builds one
      val sources = if (i < 0) s"$workDir/warmup" else s"$workDir/sources"
      val (wh, built) = clock.command("build") {
        val w = new Warehouse(spark, s"$workDir/warehouse", sources, monitor)
        (w, w.loadRelations(ordered, SchemaPosition.Staging))
      }
      val builtIds = built.map(_.identifier).toSet
      ordered.filterNot(r => builtIds(r.identifier))
        .foreach(r => failures += s"relation ${r.identifier} failed to build")
      clock.command("publish")(wh.publish(ordered))
      val violations = clock.command("check")(wh.checkConstraints(ordered, TableSelector.all))
      violations.foreach { case (id, msg) => failures += s"constraint $id: $msg" }
      clock.count("check_relations", tableRelations(ordered).size.toLong)
      val rep = tableRelations(ordered).filter(_.name.schema == "rep")
      val unloaded = clock.command("unload") {
        rep.map { r =>
          try Unload.unload(spark.table(r.name.quoted), r.design,
            s"$workDir/unload/${r.identifier}")
          catch { case NonFatal(e) => failures += s"unload ${r.identifier}: $e"; 0L }
        }.sum
      }
      clock.count("unload_rows", unloaded)
      last = ordered
      // each relation build, each constraint-checked table and each
      // unload is one attempted operation
      val attempted = ordered.size + tableRelations(ordered).size + rep.size
      CycleOut(built.map(_.rowcount).sum, attempted, failures.toSeq)
    }

    def outputs(): Map[String, Any] =
      tableOutputs(spark, tableRelations(last).map(_.name)) ++ Map(
        "relations" -> last.size, "warehouse" -> s"$workDir/warehouse")
  }

  /** The daytime load on a warehouse loaded once in set-up. Each cycle
    * is `update` of src.orders and its dependents from the next seeded
    * variant of the orders extract, then `vacuum`, then one micro-batch
    * of SCD2 upserts into a warehouse customer dimension through
    * EventStreams.scd2Stream. The batch is added only after the refresh
    * returned, and the next cycle starts only after the batch committed. */
  final class Intraday(spark: SparkSession, workDir: String, monitor: Monitor)
      extends Workload {
    import spark.implicits._
    private implicit val sqlCtx: SQLContext = spark.sqlContext
    private val variants = new java.io.File(s"$workDir/variants").list().sorted.toSeq
    private lazy val rels = FileSets.discover(s"$workDir/designs")
    private val selector = TableSelector(Seq("src.orders"))
    private var lastVariant = ""

    private val dim = TableName.parse("dw.customer_scd2")
    private val attrs = Seq("name", "seg")
    // the streamed dimension has no design file; vacuum only needs its name
    private val dimRelation = Relation(TableDesign.load(
      """name: dw.customer_scd2
        |source_name: stream
        |columns:
        |  - {name: k, type: long}
        |""".stripMargin))
    private val input = MemoryStream[(Long, String, String, String)]
    private var query: StreamingQuery = _
    private var applied = 0
    private lazy val batches: IndexedSeq[Seq[(Long, String, String, String)]] =
      spark.read.parquet(s"$workDir/batches.parquet")
        .as[(Int, Long, String, String, String)].collect().toSeq
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.map(r => (r._2, r._3, r._4, r._5)).sortBy(_._1)).toIndexedSeq

    private def warehouse(sourceDir: String): Warehouse =
      new Warehouse(spark, s"$workDir/warehouse", sourceDir, monitor)

    def setup(): Unit = {
      val wh = warehouse(s"$workDir/sources")
      wh.loadRelations(rels)
      wh.ensureDatabase(dim.schema)
      val snapshot = spark.read.parquet(s"$workDir/sources/customer.parquet")
        .select($"c_custkey".as("k"), $"c_name".as("name"), $"c_mktsegment".as("seg"))
      wh.writeTable(dim, DimOps.scd2Init(snapshot, "k", attrs, from = "2024-01-01"))
      query = EventStreams.scd2Stream(wh, dim, "k", attrs,
        input.toDF().toDF("k", "name", "seg", "as_of"), s"$workDir/checkpoint")()
      batches.size
      ()
    }

    def cycle(i: Int, clock: Clock): CycleOut = {
      val variant = variants(Math.floorMod(i, variants.size))
      val failures = mutable.Buffer[String]()
      // a fresh Warehouse per refresh, as each `update` invocation builds one
      val (wh, built) = clock.command("update") {
        val w = warehouse(s"$workDir/variants/$variant")
        (w, w.updateRelations(rels, selector))
      }
      lastVariant = variant
      val vac = clock.command("vacuum")(wh.vacuum(rels :+ dimRelation))
      vac.refused.foreach(id => failures += s"vacuum refused $id")
      require(applied < batches.size, "generator produced too few batches")
      val batch = batches(applied)
      clock.command("batch") {
        input.addData(batch)
        query.processAllAvailable()
      }
      applied += 1
      query.exception.foreach(e => failures += s"stream failed: $e")
      clock.count("update_relations", built.size.toLong)
      clock.count("vacuum_deleted", vac.deleted.size.toLong)
      clock.count("vacuum_refused", vac.refused.size.toLong)
      clock.count("batch_rows", batch.size.toLong)
      // each rebuilt relation, the vacuum pass and the batch are attempted operations
      CycleOut(built.map(_.rowcount).sum + batch.size, built.size + 2, failures.toSeq)
    }

    def outputs(): Map[String, Any] =
      tableOutputs(spark, tableRelations(rels).map(_.name) :+ dim) ++ Map(
        "variant" -> lastVariant, "batches_applied" -> applied,
        "warehouse" -> s"$workDir/warehouse")

    override def close(): Unit = if (query != null) query.stop()
  }
}

/** Minimal JSON writer for the result document (maps, sequences,
  * arrays, strings, numbers, booleans). */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb.append('"')
      s.foreach {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.append('"')
    }
    def go(x: Any): Unit = x match {
      case null | None => sb.append("null")
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb.append(b)
      case d: Double => sb.append(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Number => sb.append(n.toString)
      case m: scala.collection.Map[_, _] =>
        sb.append('{')
        m.toSeq.zipWithIndex.foreach { case ((k, v), j) =>
          if (j > 0) sb.append(',')
          str(k.toString); sb.append(':'); go(v)
        }
        sb.append('}')
      case a: Array[_] => go(a.toSeq)
      case s: Iterable[_] =>
        sb.append('[')
        s.zipWithIndex.foreach { case (v, j) => if (j > 0) sb.append(','); go(v) }
        sb.append(']')
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
