package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.{Sessions, SparkEntry}
import graft.operators._
import graft.streaming.StreamingDaemon

/** The benchmark harness: one JVM, one `local[cpus]` session, one
  * closed-loop client. It runs the cold pass, then warm passes until the
  * measuring time is used up, and writes every raw timing (and, in traced
  * passes, spans and Spark counters) to a JSON file that perfbench/run.py
  * turns into metrics and checks against the DuckDB oracle.
  *
  *   --workload queries|compaction|survey|setup  --data DIR  --work DIR
  *   --out FILE  --seconds S  --seed N  --trace 0|1  --cpus N
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def parse(argv: Array[String]): Args =
    Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = a("cpus").toInt
    val t0 = System.nanoTime()
    val spark = Sessions.tuned(s"local[$cpus]", cpus.toString)
    val sessionsBuild = (System.nanoTime() - t0) / 1e9
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    val base = Map("setup_s" -> setup, "sessions_build_s" -> sessionsBuild)
    try {
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.setCheckpointDir(s"${a("work")}/checkpoint")
      // `setup` stops once the session is ready: run.py starts it for
      // further set-up samples.
      val run = if (a("workload") == "setup") Map.empty else new Run(spark, a, cpus).run()
      Files.writeString(Paths.get(a("out")), Json(base ++ run))
    } finally spark.stop()
  }
}

/** One op of a pass: a query, or a compaction job (bulk or rolling). */
final case class OpRec(name: String, family: String, wall: Double, digest: String,
                       error: String, batches: Seq[Double] = Nil) {
  def json: Map[String, Any] = Map("name" -> name, "family" -> family, "wall_s" -> wall,
    "digest" -> digest, "error" -> error, "batches_s" -> batches)
}

final class Run(spark: SparkSession, a: Main.Args, cpus: Int) {
  private val sc = spark.sparkContext
  private val workload = a("workload")
  private val data = a("data")
  private val work = a("work")
  private val seed = a("seed").toLong
  private val trace = a("trace") == "1"
  private val spans = new Spans

  // Traced-pass state: fresh listeners per traced pass.
  private var traced = false
  private var exec: ExecListener = _
  private var batchL: BatchListener = _
  private val groupSpan = mutable.Map.empty[String, Span]

  private val packs: Seq[QueryPack] =
    if (workload == "compaction") Nil
    else Seq(MetaQueries, JoinQueries, AnalyticsQueries, TextQueries, VectorQueries)
  // `survey` runs every query of the packs, to measure what `queries` picks from.
  private lazy val queries: Seq[(String, QueryPack#Q)] = {
    val all = packs.flatMap(_.queries).toMap
    val names = if (workload == "survey") all.keys.toSeq.sorted else Workloads.queries
    names.map(n => n -> all(n))
  }

  def run(): Map[String, Any] = {
    val seconds = a("seconds").toDouble
    // At least two measured warm passes of each kind (untraced, and traced
    // when tracing) however short `seconds` is.
    val minPasses = if (trace) 6 else 4
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var start = 0L
    var p = 0
    // The cold pass, one warm-up pass, then measured warm passes for
    // `seconds` (at least minPasses in all). The queries still get faster
    // for a few passes after the cold one, so the pass right after it is
    // left out of the warm figures. The cold pass is traced and the warm-up
    // pass is not. Measured passes run untraced, traced, traced, untraced,
    // and so on, so a traced run also measures the tracing overhead, and a
    // steady trend across passes cancels out of it.
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      passes += pass(p, trace && (p == 0 || Set(1, 2)((p - 2) % 4)))
      if (p == 1) start = System.nanoTime()
      heaps += liveHeapMb()
      p += 1
    }
    writeSpans()
    val oracles = SparkEntry.oracleSql
    Map("cpus" -> cpus, "passes" -> passes, "heap_mb" -> heaps,
      "oracles" -> (if (packs.isEmpty) Map.empty
                    else queries.map(_._1).flatMap(n => oracles.get(n).map(n -> _)).toMap),
      "pack" -> packs.flatMap(pk => pk.queries.keys.map(_ -> pk.getClass.getSimpleName.stripSuffix("$"))).toMap,
      "spans" -> s"$work/spans.jsonl")
  }

  /** Heap in use after a full GC. The first GC lets Spark's ContextCleaner
    * find unreachable RDDs, shuffles and broadcasts; it drops their blocks
    * asynchronously, so a second GC after a pause collects those too.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def pass(p: Int, tr: Boolean): Map[String, Any] = {
    traced = tr
    if (tr) {
      exec = new ExecListener
      batchL = new BatchListener
      sc.addSparkListener(exec)
      spark.streams.addListener(batchL)
    }
    val passId = spans.newId()
    val s = System.nanoTime()
    val ops = workload match {
      case "compaction" => compactionPass(p, passId)
      case _ =>
        // The cold pass runs the list in its own order, so its JIT warm-up
        // falls on the same queries for every seed; the seed permutes the
        // order of every warm pass.
        val order = if (p == 0) queries else new scala.util.Random(seed * 1000003L + p).shuffle(queries)
        order.map { case (n, fn) => queryOp(p, passId, n, fn) }
    }
    val e = System.nanoTime()
    val wall = (e - s) / 1e9
    var layer = Map.empty[String, Double]
    var opLayer = Map.empty[String, Map[String, Double]]
    if (tr) {
      org.apache.spark.BusDrain(sc)
      sc.removeSparkListener(exec)
      spark.streams.removeListener(batchL)
      spans.add(Span(passId, 0, "pass", s"pass $p", p, 0, s, e))
      opLayer = Layers.perOp(p, cpus, exec, groupSpan.toMap, spans, ops)
      layer = Layers.aggregate(p, wall, cpus, exec, batchL, groupSpan.toMap, spans, ops) ++ extraLayer(p)
      traced = false
    }
    val role = if (p == 0) "cold" else if (p == 1) "warmup" else "warm"
    Map("pass" -> p, "role" -> role, "traced" -> tr, "wall_s" -> wall, "ops" -> ops.map(_.json), "layer" -> layer,
      "op_layer" -> opLayer)
  }

  /** Runs `body` as one phase span of op `op`, under its own job group. */
  private def phase[T](p: Int, op: Long, layer: String, name: String)(body: => T): T = {
    val id = spans.newId()
    val group = s"pb:$id"
    sc.setJobGroup(group, s"$name $layer")
    val s = System.nanoTime()
    try body
    finally {
      val e = System.nanoTime()
      sc.clearJobGroup()
      if (traced) {
        val sp = Span(id, op, layer, name, p, op, s, e)
        spans.add(sp)
        groupSpan(group) = sp
      }
    }
  }

  private def opSpan(p: Int, passId: Long, opId: Long, name: String, s: Long): Unit =
    if (traced) spans.add(Span(opId, passId, "op", name, p, opId, s, System.nanoTime()))

  private def err(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}"

  private def queryOp(p: Int, passId: Long, n: String, fn: QueryPack#Q): OpRec = {
    val opId = spans.newId()
    val s = System.nanoTime()
    val (digest, error) =
      try {
        val df = phase(p, opId, "build", n)(fn(spark, data))
        phase(p, opId, "plan", n)(df.queryExecution.executedPlan)
        (phase(p, opId, "action", n)(Canon.digest(df)).hex, "")
      } catch { case NonFatal(e) => ("", err(e)) }
    opSpan(p, passId, opId, n, s)
    OpRec(n, Workloads.family(n), (System.nanoTime() - s) / 1e9, digest, error)
  }

  // ---- compaction ----
  private val keys = Seq("user_id", "event_type")
  private val versionOrder = Seq("ts", "event_id")
  private lazy val inputBytes =
    new File(data).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
  private lazy val numFiles = Compactor.planFileCount(inputBytes, Workloads.targetFileBytes)

  private def compactionPass(p: Int, passId: Long): Seq[OpRec] = {
    val out = s"$work/out/p$p"
    val bulkId = spans.newId()
    val s1 = System.nanoTime()
    val e1 =
      try {
        val df = phase(p, bulkId, "build", "bulk")(spark.read.parquet(data))
        phase(p, bulkId, "action", "bulk") {
          Compactor.compact(df, keys, versionOrder, numFiles, Some(s"$out/bulk"))
        }
        ""
      } catch { case NonFatal(e) => err(e) }
    opSpan(p, passId, bulkId, "bulk", s1)
    val bulk = OpRec("bulk", "compact", (System.nanoTime() - s1) / 1e9, "", e1)

    val loopId = spans.newId()
    val s2 = System.nanoTime()
    var batches = Seq.empty[Double]
    val e2 =
      try {
        val q = phase(p, loopId, "build", "daemon") {
          StreamingDaemon.compactionLoop(spark, data, s"$out/roll", s"$work/stream-ckpt/p$p",
            keys, versionOrder, Trigger.AvailableNow())
        }
        phase(p, loopId, "action", "daemon") {
          q.awaitTermination()
          q.exception.foreach(throw _)
        }
        // Streaming jobs run under the query's run id as their job group.
        if (traced) groupSpan.values.find(s => s.op == loopId && s.layer == "action")
          .foreach(groupSpan(q.runId.toString) = _)
        batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").longValue / 1e3)
        ""
      } catch { case NonFatal(e) => err(e) }
    opSpan(p, passId, loopId, "daemon", s2)
    Seq(bulk, OpRec("daemon", "compact", (System.nanoTime() - s2) / 1e9, "", e2, batches))
  }

  /** Layer counters read from the outputs rather than from Spark. */
  private def extraLayer(p: Int): Map[String, Double] = workload match {
    case "compaction" =>
      val files = Option(new File(s"$work/out/p$p/bulk").listFiles()).getOrElse(Array.empty[File])
        .filter(f => f.getName.startsWith("part-"))
      Map("compactor.files" -> files.length.toDouble,
        "compactor.out_in_bytes" -> files.map(_.length).sum.toDouble / inputBytes)
    case _ => Map.empty
  }

  private def writeSpans(): Unit = {
    val lines = spans.all.sortBy(_.start).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "pass" -> s.pass, "op" -> s.op, "start" -> s.start, "end" -> s.end))
    }
    Files.writeString(Paths.get(s"$work/spans.jsonl"), lines.mkString("", "\n", "\n"))
  }
}
