package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Query
import graft.config.TaskConfig
import graft.model.{EventBounds, TemporalBounds}
import graft.operators.{Constraints, CurationPipeline, Dedup, EventBoundAgg, TemporalWindowAgg}
import graft.plans.WindowNode
import graft.sources.{PredicateFrames, Tables}

/** One benchmark run in one JVM: set up, then a closed loop of ops (one
  * client, one op in flight) for the requested seconds, every op's output
  * checked against the oracle fingerprint computed outside the JVM.
  *
  * Usage: perfbench.Main <job.properties>
  *
  * The job file (written by run.py) names the workload, the generated
  * inputs, the task or pipeline YAML with the expected output fingerprint,
  * and where to write the raw result JSON. Untraced runs time whole ops; traced runs
  * alternate untraced and traced ops and report per-layer numbers.
  */
object Main {
  final case class Job(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"job file lacks '$k'"))
    def int(k: String): Int = apply(k).toInt
    def longs(k: String): Seq[Long] = apply(k).split(",").toSeq.map(_.toLong)
  }

  /** Raw outcome of one op. */
  final case class Outcome(wallS: Double, ok: Boolean, peakExecB: Long)

  val FpMod = 2147483647L

  /** Order-independent fingerprint of a MEDS label frame; tasks.py's
    * `fingerprint_sql` is the same arithmetic in DuckDB.
    */
  def labelFingerprint(df: DataFrame): Seq[Long] = {
    val h = pmod(col("subject_id") * 1000003L + unix_micros(col("prediction_time")) +
      when(col("boolean_value"), lit(7919L)).otherwise(lit(0L)), lit(FpMod))
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L)),
      coalesce(sum(pmod(h * h, lit(FpMod))), lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Fingerprint of a kept-document frame: (count, sum id, sum id^2 mod p). */
  def docFingerprint(df: DataFrame): Seq[Long] = {
    val id = col("doc_id").cast("long")
    val r = df.agg(count(lit(1)), coalesce(sum(id), lit(0L)),
      coalesce(sum(pmod(id * id, lit(FpMod))), lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val job = Job(props)
    val bench = new Bench(job)
    try bench.run() finally bench.stop()
  }
}

final class Bench(job: Main.Job) {
  import Main._

  private val nproc = job.int("nproc")
  private val workload = job("workload")
  private val traced = job("trace") == "1"
  private val outDir = job("out")
  private val isCuration = workload == "curation_dedup"
  private val yamlPath = job("yaml")
  private val outPath = s"$outDir/${if (isCuration) "curation" else "labels"}.parquet"

  private var spark: SparkSession = _
  private var counters: Counters = _
  private val tracer = new Tracer

  private def startSession(): Unit = {
    spark = Tables
      .configure(SparkSession.builder()
        .master(s"local[$nproc]")
        .config("spark.sql.shuffle.partitions", nproc.toString)
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    counters = new Counters(spark.sparkContext)
  }

  def stop(): Unit = if (spark != null) spark.stop()

  private def group[T](g: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  // ---- untraced ops: the public entry points, as a user runs them -------

  private def cohortOp(): Unit =
    graft.Run.runWithOpts(Map("config" -> yamlPath, "data" -> job("shard"),
      "standard" -> "meds", "output" -> outPath))

  private def curationOp(): Unit = {
    val docs = spark.read.parquet(job("docs"))
    CurationPipeline.fromYaml(docs, Files.readString(Paths.get(yamlPath)))
      .write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath).count()
  }

  // Self-test hook: drop one output row before the check, which must then
  // count the op as failed.
  private val perturb = Option(job.p.getProperty("selftest.perturb")).contains("1")
  private def readOutput(path: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (perturb) df.limit(math.max(0, df.count().toInt - 1)) else df
  }

  /** Compare the output of the op just run with its oracle fingerprint. */
  private def check(): Boolean = group("check") {
    val out = readOutput(outPath)
    val got = if (isCuration) docFingerprint(out) else labelFingerprint(out)
    val want = job.longs("expected")
    if (got != want) System.err.println(s"[perfbench] output $got != oracle $want")
    got == want
  }

  private def untracedOp(g: String): Outcome = {
    val t0 = System.nanoTime()
    val threw = try { group(g)(if (isCuration) curationOp() else cohortOp()); None }
    catch { case e: Exception => Some(e) }
    val wall = seconds(t0)
    threw.foreach(e => System.err.println(s"[perfbench] op $g failed: $e"))
    val ok = threw.isEmpty && check()
    Outcome(wall, ok, counters.of(g).peakExecB)
  }

  // ---- traced ops: the same work, one layer at a time ------------------

  private val layerSums = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = layerSums(k) = layerSums.getOrElse(k, 0.0) + v

  /** The traced task's layers; returns the untimed follow-up work (anchor
    * count, output size, per-edge operator calls), run after the op span.
    */
  private def tracedCohortOp(op: String): () => Unit = {
    val cfg = tracer.span("config", op) {
      TaskConfig.fromYaml(Files.readString(Paths.get(yamlPath)))
    }
    val fin = tracer.span("sources", op) {
      group(s"$op/sources") {
        val plain = PredicateFrames.fromMeds(spark.read.parquet(job("shard")), cfg.plainPredicates.toSeq)
        val f = PredicateFrames.finalize(cfg, plain).persist(StorageLevel.MEMORY_AND_DISK)
        add("sources.rows_out", f.count().toDouble)
        f
      }
    }
    counters.resetCachedPeak()
    val res = tracer.span("query", op)(group(s"$op/query")(Query(cfg, fin)))
    add("query.cached_mb_peak", counters.cachedPeak / 1048576.0)
    tracer.span("output", op) {
      group(s"$op/output") {
        Query.toMedsLabels(res).write.mode("overwrite").parquet(outPath)
        add("output.rows", spark.read.parquet(outPath).count().toDouble)
      }
    }
    () => {
      group("aux") {
        add("query.anchor_rows", fin.filter(col(cfg.trigger.predicate) >= 1).count().toDouble)
        add("output.mb", dirBytes(outPath) / 1048576.0)
        operatorCalls(cfg, fin)
      }
      fin.unpersist(blocking = true)
    }
  }

  private def dirBytes(p: String): Long =
    Files.walk(Paths.get(p)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  private def timeNoop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    seconds(t0)
  }

  /** Each tree edge's window operator, then its constraint filter over the
    * operator's output, timed alone. The operators read the frame
    * `Query.apply` gives `plans.ExtractSubtree`: the canonical frame with
    * its epoch-micros key and, when the tree has an event-bound edge, the
    * shared `__cum_<pred>` columns, cached and sorted within partitions,
    * then semi-joined to the trigger's subjects. Offsets accumulate as in
    * `plans.ExtractSubtree`: through temporal edges, reset at event bounds.
    * The flagship tree has one non-leaf temporal edge, so ExtractSubtree's
    * sibling fusion does not apply and each edge is one operator call.
    */
  private def operatorCalls(cfg: TaskConfig, fin: DataFrame): Unit = {
    val statics = cfg.predicates.collect { case (n, p) if p.static => n }.toSeq
    val base =
      if (statics.nonEmpty) Constraints.checkStaticVariables(statics, fin)
      else fin.na.drop(Seq("subject_id", "timestamp"))
    val tsUs = TemporalWindowAgg.TsUs
    val keyed = base.withColumn(tsUs, unix_micros(col("timestamp")))
    def hasEventBound(n: WindowNode): Boolean =
      n.endpointExpr.exists(_.isInstanceOf[EventBounds]) || n.children.exists(hasEventBound)
    val enriched =
      if (!cfg.windowTree.children.exists(hasEventBound)) keyed
      else {
        val predCols = keyed.columns
          .filterNot(c => c == "subject_id" || c == "timestamp" || c.startsWith("__"))
        val wCum = Window.partitionBy("subject_id").orderBy(tsUs)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        keyed.select(keyed.columns.map(col).toSeq ++
          predCols.map(c => sum(col(c)).over(wCum).as(s"__cum_$c")): _*)
      }
    val canon = enriched
      .sortWithinPartitions(col("subject_id"), col(tsUs))
      .persist(StorageLevel.MEMORY_AND_DISK)
    canon.count()
    val anchorSubjects = canon.filter(col(cfg.trigger.predicate) >= 1).select("subject_id").distinct()
    val pruned = canon.join(anchorSubjects, Seq("subject_id"), "left_semi")
    def walk(node: WindowNode, offset: Long): Unit = node.children.foreach { child =>
      val (agg, next, kind) = child.endpointExpr.get.withAddedOffset(offset) match {
        case tb: TemporalBounds => (TemporalWindowAgg(pruned, tb), offset + tb.windowMicros, "temporal")
        case eb: EventBounds    => (EventBoundAgg(pruned, eb), 0L, "event_bound")
      }
      add(s"operators.${kind}_s", timeNoop(agg))
      val cached = agg.persist(StorageLevel.MEMORY_AND_DISK)
      cached.count()
      add("operators.constraints_s", timeNoop(Constraints.checkConstraints(child.constraints, cached)))
      cached.unpersist(blocking = true)
      add("operators.calls", 1)
      walk(child, next)
    }
    walk(cfg.windowTree, 0L)
    canon.unpersist(blocking = true)
  }

  private def tracedCurationOp(op: String): () => Unit = {
    val docs = spark.read.parquet(job("docs"))
    def step(name: String, yaml: String, in: DataFrame): DataFrame =
      tracer.span(s"curation.$name", op) {
        group(s"$op/curation.$name") {
          val d = CurationPipeline.fromYaml(in, s"steps:\n  - $yaml\n").persist(StorageLevel.MEMORY_AND_DISK)
          add(s"curation.$name.rows_out", d.count().toDouble)
          d
        }
      }
    val q = step("quality", job("curation.step.quality"), docs)
    val d = step("dedup_ngram", job("curation.step.dedup_ngram"), q)
    tracer.span("output", op) {
      group(s"$op/output") {
        d.write.mode("overwrite").parquet(outPath)
        add("output.rows", spark.read.parquet(outPath).count().toDouble)
      }
    }
    () => {
      group("aux") {
        add("output.mb", dirBytes(outPath) / 1048576.0)
        add("dedup.shingle_rows", Dedup.shingleRows(q, 3).count().toDouble)
        add("dedup.pairs", Dedup.ngramJaccard(q, 0.8, 3).count().toDouble)
      }
      Seq(q, d).foreach(_.unpersist(blocking = true))
    }
  }

  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** One traced op; returns its wall and the per-layer numbers. */
  private def tracedOp(op: String): (Outcome, Map[String, Double]) = {
    layerSums.clear()
    heapPools.foreach(_.resetPeakUsage())
    val threw =
      try {
        val followUp = tracer.span("op", op) {
          if (isCuration) tracedCurationOp(op) else tracedCohortOp(op)
        }
        followUp()
        None
      } catch { case e: Exception => Some(e) }
    threw.foreach(e => System.err.println(s"[perfbench] traced op $op failed: $e"))
    val ok = threw.isEmpty && check()
    val self = tracer.selfSeconds(op)
    val opWall = self.getOrElse("op.span", 0.0)
    val all = counters.of(op)
    def util(g: GroupStats, wall: Double) = if (wall <= 0) 0.0 else g.runMs / 1e3 / (wall * nproc)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= layerSums
    Seq("config", "sources", "query", "output", "curation.quality", "curation.dedup_ngram")
      .foreach(l => m(s"$l.self_s") = self.getOrElse(l, 0.0))
    m("config.parse_ms") = self.getOrElse("config", 0.0) * 1e3
    m.remove("config.self_s")
    val src = counters.of(s"$op/sources")
    val rowsIn = job("rows_in").toDouble
    m("sources.rows_in") = if (isCuration) 0.0 else rowsIn
    m("sources.collapse_ratio") = if (isCuration) 0.0 else m.getOrElse("sources.rows_out", 0.0) / rowsIn
    m("sources.shuffle_write_mb") = src.shuffleWriteB / 1048576.0
    m("sources.task_cpu_s") = src.cpuNs / 1e9
    m("sources.jobs") = src.jobs.toDouble
    val q = counters.of(s"$op/query")
    m("query.jobs") = q.jobs.toDouble
    m("query.stages") = q.stages.toDouble
    m("query.tasks") = q.tasks.toDouble
    m("query.task_cpu_s") = q.cpuNs / 1e9
    m("query.core_util") = util(q, m("query.self_s"))
    m("query.shuffle_mb") = (q.shuffleReadB + q.shuffleWriteB) / 1048576.0
    m("query.anchor_yield") =
      if (m.getOrElse("query.anchor_rows", 0.0) > 0) m("output.rows") / m("query.anchor_rows") else 0.0
    m("query.max_task_over_median") = q.maxTaskOverMedian
    val cur = counters.of(s"$op/curation.quality").add(counters.of(s"$op/curation.dedup_ngram"))
    m("curation.max_task_over_median") = cur.maxTaskOverMedian
    m("curation.shuffle_mb") = (cur.shuffleReadB + cur.shuffleWriteB) / 1048576.0
    m("spark.jobs") = all.jobs.toDouble
    m("spark.stages") = all.stages.toDouble
    m("spark.tasks") = all.tasks.toDouble
    m("spark.task_cpu_s") = all.cpuNs / 1e9
    m("spark.gc_s") = all.gcMs / 1e3
    m("spark.core_util") = util(all, opWall)
    m("spark.shuffle_read_mb") = all.shuffleReadB / 1048576.0
    m("spark.shuffle_write_mb") = all.shuffleWriteB / 1048576.0
    m("spark.spill_mb") = all.spillB / 1048576.0
    m("jvm.peak_heap_mb") =
      heapPools.map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0
    m("trace.op_wall_s") = opWall
    m("trace.unattributed_s") = self.getOrElse("op", 0.0)
    (Outcome(opWall, ok, all.peakExecB), m.toMap)
  }

  // ---- the run -----------------------------------------------------------

  def run(): Unit = {
    // A traced run reports per-layer numbers only, so it sets up once.
    val setups = if (traced) 1 else job.int("setups")
    val outcomes = mutable.ArrayBuffer.empty[Outcome]
    // Set-up: session start plus the cold first op (without its output
    // check), repeated; the last session stays up for the measured loop.
    val setupS = (0 until setups).map { i =>
      if (i > 0) spark.stop()
      val t0 = System.nanoTime()
      startSession()
      val sessionS = seconds(t0)
      val o = untracedOp(s"setup$i")
      outcomes += o
      sessionS + o.wallS
    }
    val conf = Map(
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)

    // One checked but untimed op before the loop: the second op of a session
    // still runs about 10 % slower than the ones after it.
    outcomes += untracedOp("warmup")

    val walls = mutable.ArrayBuffer.empty[Outcome]
    val tracedRuns = mutable.ArrayBuffer.empty[(Outcome, Map[String, Double])]
    val budget = job("seconds").toDouble
    val t0 = System.nanoTime()
    var k = 0
    while (k == 0 || seconds(t0) < budget || (traced && tracedRuns.isEmpty)) {
      if (traced && k % 2 == 1) tracedRuns += tracedOp(s"op$k")
      else walls += untracedOp(s"op$k")
      k += 1
    }
    outcomes ++= walls
    outcomes ++= tracedRuns.map(_._1)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val byWall = tracedRuns.sortBy(_._1.wallS)
        val mid = byWall((byWall.size - 1) / 2)._2
        val untracedMedian = median(walls.map(_.wallS).toSeq)
        mid + ("trace.overhead_s" -> (median(tracedRuns.map(_._1.wallS).toSeq) - untracedMedian))
      }
    tracer.write(s"$outDir/trace_spans.jsonl")

    val js = new StringBuilder("{")
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    js ++= s""""workload": "$workload", "traced": $traced, """
    js ++= s""""setup_s": [${setupS.map(num).mkString(", ")}], """
    js ++= s""""wall_s": [${walls.map(o => num(o.wallS)).mkString(", ")}], """
    js ++= s""""peak_exec_b": [${walls.map(_.peakExecB).mkString(", ")}], """
    js ++= s""""attempted": ${outcomes.size}, "failed": ${outcomes.count(!_.ok)}, """
    js ++= s""""conf": {${conf.map { case (a, b) => s""""$a": "$b"""" }.mkString(", ")}}, """
    js ++= s""""layers": {${layers.toSeq.sortBy(_._1).map { case (a, b) => s""""$a": ${num(b)}""" }.mkString(", ")}}"""
    js ++= "}"
    Files.writeString(Paths.get(job("result")), js.toString)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s((s.size - 1) / 2) }
}

/** In-memory spans: one per call into a layer, with its parent and op id;
  * written out when the run ends. A layer's self time is its span minus
  * the part its child spans cover.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, op: String, name: String, startNs: Long, var endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]

  def span[T](name: String, op: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), op, name, System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    try body finally { s.endNs = System.nanoTime(); stack = stack.tail }
  }

  /** Self seconds per span name for one op (summed over repeated calls),
    * plus `op.span`, the op span's full duration.
    */
  def selfSeconds(op: String): Map[String, Double] = {
    val mine = spans.filter(_.op == op)
    val childNs = mine.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    val self = mine.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
    self ++ mine.find(_.name == "op").map(s => "op.span" -> (s.endNs - s.startNs) / 1e9)
  }

  def write(path: String): Unit = {
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": "${s.op}", "name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    Files.write(Paths.get(path), lines.asJava)
  }
}
