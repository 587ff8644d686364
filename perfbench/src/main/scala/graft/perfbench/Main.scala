package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The benchmark driver: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload cluster|backup-chain --seed N
  *      --seconds S --trace 0|1 --work DIR --result FILE
  *      --expected FILE --spans DIR [--size full|smoke] [--record]
  * }}}
  *
  * With `--record`, `--workload` names one part (cluster, backup-chain
  * or driver-queries, the query sweep) and `--seed` a comma-separated
  * list; the checked pass of each seed is written to `--result`.
  *
  * Set-up (session plus inputs, inputs materialized three times, median
  * kept), one untimed warm-up pass, timed passes with tracing off until
  * `--seconds` have passed (at least the workload's `minPasses`), an
  * untimed check pass, and with `--trace 1` one traced pass whose
  * outputs must equal the untraced pass's. Every pass is checked; a
  * failed check counts against `ok_ops_ratio` and makes `correct` false.
  * Writes one JSON object to `--result`.
  */
object Main {

  /** Layers measured by the traced pass, in pipeline order. */
  val Spans: Seq[String] = Seq("signatures", "chunks", "unique_chunks",
    "containers", "recipe", "candidate_pairs", "verified_pairs", "clusters",
    "final_recipe", "index", "har_sparse", "restore_sim", "expire")

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s",
    "exec_cpu_s" -> "s", "ok_ops_ratio" -> "ratio", "dedup_ratio" -> "ratio",
    "table_bytes_per_input_byte" -> "ratio", "dup_pair_recall" -> "ratio",
    "restore_speed_factor" -> "ratio", "rewritten_ratio" -> "ratio",
    "files_per_s" -> "1/s")

  /** The query sweep: the `Bench.headline` queries that load the query
    * layers planned work changes — `operators.SuffixArray`
    * (d_suffix_rank) and the similarity join with
    * `functions.IntersectSorted` (d_clone_pairs). The other headline
    * queries are left out to keep one run within the benchmark's time
    * budget. */
  val Queries: Seq[String] = Seq("d_suffix_rank", "d_clone_pairs")

  /** Input sizes per workload: (cluster bases, chain bundles, documents).
    * The cluster and query warm-ups run on the smoke inputs. */
  val Sizes: Map[String, (Long, Int, Int)] = Map(
    "full" -> (2000L, 180, 5000),
    "smoke" -> (60L, 24, 200))

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val flags = argv.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = args("workload")
    val seeds = args("seed").split(",").map(_.toLong).toSeq
    val seed = seeds.head
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val size = args.getOrElse("size", "full")
    val record = flags("record")
    val work = new File(args("work")).getAbsoluteFile
    val resultFile = args("result")

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    work.mkdirs()
    // the session settings ClusterJob.main uses, with every scratch path
    // kept inside the benchmark's own work directory
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BenchListener(spark.sparkContext)
    val sessionUp = (System.currentTimeMillis() - jvmStart) / 1e3

    val (nBases, nBundles, nDocs) = Sizes(size)
    val (warmBases, _, warmDocs) = Sizes("smoke")
    val names = Queries
    require(names.forall(graft.Bench.headline.contains))
    def part(name: String, seed: Long): Workload = {
      // --record checks the invariants only, so it can replace old records
      val expected =
        if (record) None else Expected.load(args("expected"), name, size, seed)
      if (expected.isEmpty && !record)
        log(s"WARNING: no recorded outputs for $name/$size seed $seed: " +
          "only the invariants and the pass-to-pass equality are checked")
      name match {
        case "cluster" =>
          new ClusterWorkload(spark, seed, nBases, warmBases, expected)
        case "backup-chain" =>
          new BackupChainWorkload(spark, seed, nBundles, expected)
        case "driver-queries" =>
          // a fixed table: the seed is recorded but does not change it
          new QueriesWorkload(spark, 42L, nDocs, warmDocs, names, expected)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    // the `cluster` workload runs the job, then the query sweep
    def make(seed: Long): Workload = workload match {
      case "cluster" =>
        new Sequenced(part("cluster", seed), part("driver-queries", seed))
      case other => part(other, seed)
    }
    val in = s"$work/input"
    val passes = s"$work/passes"
    if (record) {
      // one JVM per seed list: set up, run the checked pass, keep its outputs
      val observed = seeds.map { s =>
        val w = part(workload, s)
        w.setup(in)
        val p = w.recordPass(passes)
        val bad = p.failures ++ w.check(p)
        bad.foreach(f => log(s"FAILED: seed $s: $f"))
        s.toString -> (if (bad.isEmpty) Json.obj(p.outputs.map {
          case (k, v) => k -> Json.str(v) }) else "null")
      }
      Files.write(Paths.get(resultFile),
        (Json.obj(observed) + "\n").getBytes(UTF_8))
      spark.stop()
      return
    }
    val w = make(seed)
    val setupRuns = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      w.setup(in)
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionUp + median(setupRuns)
    log(f"setup: session $sessionUp%.2f s, inputs ${setupRuns.map(s => f"$s%.2f").mkString(" ")} s")

    var attempted = 0
    val failures = Seq.newBuilder[String]
    def account(p: PassOut, checks: Seq[String]): PassOut = {
      attempted += p.attempted
      failures ++= p.failures ++ checks
      p
    }
    val warm = account(guard(w.warmup(passes), 1), Nil)
    log(f"warm-up pass ${warm.seconds}%.2f s, ${warm.failures.size} failures")

    // timed passes, tracing off: each is checked, and each must repeat
    // the first one's outputs
    val timed = Seq.newBuilder[PassOut]
    val cpuS = Seq.newBuilder[Double]
    val loop0 = System.nanoTime()
    var first: Option[PassOut] = None
    var n = 0
    while (n < w.minPasses || (System.nanoTime() - loop0) / 1e9 < seconds) {
      listener.settle()
      val c0 = listener.cpuNs
      val p = guard(w.pass(passes), 1)
      listener.settle()
      val cpu = (listener.cpuNs - c0) / 1e9
      val same = first.forall(f => p.failures.nonEmpty || f.outputs == p.outputs)
      account(p, (if (p.failures.isEmpty) w.check(p) else Nil) ++
        (if (same) Nil else Seq("timed pass outputs differ from the first pass")))
      if (first.isEmpty) first = Some(p)
      n += 1
      timed += p
      cpuS += cpu
      log(f"timed pass: ${p.seconds}%.3f s wall, $cpu%.3f s exec cpu")
    }
    val passS = median(timed.result().map(_.seconds))
    val post = account(guard(w.checkPass(passes), 1), Nil)
    log(f"check pass ${post.seconds}%.2f s, ${post.failures.size} failures")

    // with --trace 1: the traced pass (same calls, one span per layer,
    // task metrics attributed to the span's job group)
    val layerMetrics = if (!trace) None else Some {
      val tr = new Tracer(spark.sparkContext, "traced")
      listener.settle()
      listener.drainGroups()
      val tp = guard(w.tracedPass(passes, tr), 1)
      listener.settle()
      val groups = listener.drainGroups()
      val same = tp.failures.nonEmpty || tp.outputs == first.get.outputs
      account(tp, (if (tp.failures.isEmpty) w.check(tp) else Nil) ++
        (if (same) Nil else Seq("traced pass outputs differ from the untraced pass")))
      writeSpans(new File(args("spans")), workload, seed, tr)
      perLayer(tr, groups, w.counts, names, tp.seconds - passS)
    }

    val fails = failures.result()
    val failed = math.min(fails.size, attempted)
    fails.foreach(f => log(s"FAILED: $f"))
    val metrics = layerMetrics.getOrElse {
      val m = first.get.metrics
      // a metric that does not apply to a workload reads 1.0
      def na(k: String): Double = m.getOrElse(k, 1.0)
      val values = Map(
        "setup_s" -> setupS, "pass_s" -> passS,
        "exec_cpu_s" -> median(cpuS.result()),
        "ok_ops_ratio" -> (attempted - failed).toDouble / attempted,
        "dedup_ratio" -> na("dedup_ratio"),
        "table_bytes_per_input_byte" -> na("table_bytes_per_input_byte"),
        "dup_pair_recall" -> na("dup_pair_recall"),
        "restore_speed_factor" -> na("restore_speed_factor"),
        "rewritten_ratio" -> na("rewritten_ratio"),
        "files_per_s" -> median(timed.result().flatMap(_.metrics.get("files_per_s"))))
      EndToEnd.map { case (k, u) => (k, values(k), u) }
    }
    val json = Json.result(failed == 0, attempted, failed, metrics)
    Files.write(Paths.get(resultFile), (json + "\n").getBytes(UTF_8))
    spark.stop()
  }

  /** A pass that throws counts as `ops` failed operations. */
  private def guard(p: => PassOut, ops: Int): PassOut =
    try p
    catch {
      case e: Exception =>
        e.printStackTrace()
        PassOut(0.0, Nil, Map.empty, ops, Seq(s"pass threw ${e.toString.take(300)}"))
    }

  private def perLayer(tr: Tracer, groups: Map[String, GroupMetrics],
      counts: Map[String, Double], queries: Seq[String],
      overhead: Double): Seq[(String, Double, String)] = {
    val spans = tr.recorded
    val layer = Spans.toSet ++ queries.map(q => s"q.$q")
    val self = spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(tr.selfSeconds).sum
    }
    val uncovered = spans.filterNot(s => layer(s.name))
      .map(tr.selfSeconds).sum
    val total = spans.filter(_.parent == -1).map(_.seconds).sum
    log(f"traced pass: $total%.3f s, layer self time ${total - uncovered}%.3f s, " +
      f"uncovered $uncovered%.3f s, overhead vs untraced $overhead%.3f s")
    spans.filter(s => layer(s.name)).groupBy(_.name).toSeq
      .sortBy(-_._2.map(_.seconds).sum).take(20).foreach { case (n, ss) =>
        log(f"  span $n%-24s ${ss.map(_.seconds).sum}%.3f s")
      }
    val spanMetrics = Spans.flatMap { s =>
      val g = groups.get(s)
      val tasks = g.map(_.taskMs.sorted).getOrElse(Nil)
      val skew =
        if (tasks.isEmpty) 0.0
        else tasks.last.toDouble / math.max(tasks(tasks.size / 2), 1L)
      Seq(
        (s"$s.wall_s", self.getOrElse(s, 0.0), "s"),
        (s"$s.exec_cpu_s", g.map(_.cpuNs / 1e9).getOrElse(0.0), "s"),
        (s"$s.shuffle_write_mb", g.map(_.shuffleWriteBytes / 1e6).getOrElse(0.0), "MB"),
        (s"$s.spill_mb", g.map(_.spillBytes / 1e6).getOrElse(0.0), "MB"),
        (s"$s.task_skew", skew, "ratio"))
    }
    val countMetrics = Seq(
      ("unique_chunks.kept_ratio", counts.getOrElse("unique_chunks.kept_ratio", 0.0), "ratio"),
      ("verified_pairs.yield", counts.getOrElse("verified_pairs.yield", 0.0), "ratio"),
      ("clusters.spark_jobs", groups.get("clusters").map(_.jobs.toDouble).getOrElse(0.0), "count"))
    val queryMetrics = queries.map(q =>
      (s"q.$q.wall_s", self.getOrElse(s"q.$q", 0.0), "s"))
    spanMetrics ++ countMetrics ++ queryMetrics ++ Seq(
      ("trace.uncovered_s", uncovered, "s"),
      ("trace.overhead_s", overhead, "s"))
  }

  private def writeSpans(out: File, workload: String, seed: Long,
      tr: Tracer): Unit = {
    out.mkdirs()
    val f = new File(out, s"$workload-seed$seed.jsonl")
    val lines = tr.recorded.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name),
      "parent" -> s.parent.toString, "pass" -> Json.str(s.pass),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "self_s" -> Json.num(tr.selfSeconds(s)))))
    Files.write(f.toPath, lines.asJava, UTF_8)
    log(s"spans written to $f")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** Minimal JSON output (the benchmark adds no dependencies). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, v, u) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u)))
      })))
}

/** Recorded outputs (`expected.json` next to the benchmark):
  * `{workload: {size: {seed: {output: value}}}}`; the query sweep's
  * tables do not depend on the seed, so its values sit under seed "*".
  */
object Expected {
  def load(path: String, workload: String, size: String,
      seed: Long): Option[Map[String, String]] = {
    val f = new File(path)
    if (!f.exists) None
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val bySeed = root.path(workload).path(size)
      val node = if (bySeed.has("*")) bySeed.path("*") else bySeed.path(seed.toString)
      if (node.isMissingNode || !node.isObject) None
      else Some(node.fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap)
    }
  }
}
