package graft.perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.corpus.CorpusFile
import graft.pipeline._

/** What one pass produced: the wall time of its engine calls alone,
  * canonical output values (compared across passes and against the
  * recorded expectations), workload metrics (a job's `files_per_s` among
  * them), and the operations it attempted and failed.
  */
final case class PassOut(
    seconds: Double,
    outputs: Seq[(String, String)],
    metrics: Map[String, Double],
    attempted: Int,
    failures: Seq[String])

/** A benchmark workload. `setup` materializes the seeded inputs under
  * `dir`; `warmup` is the untimed warm-up pass; `pass` is one timed pass
  * with tracing off, run at least `minPasses` times; `tracedPass` repeats
  * the same calls with every layer wrapped in a span; `check` runs the
  * output checks of a timed or traced pass; `checkPass` is an untimed
  * pass after the timed ones, for checks that need a pass of their own.
  */
trait Workload {
  def setup(dir: String): Unit
  def warmup(dir: String): PassOut
  def pass(dir: String): PassOut
  def minPasses: Int = 1
  def tracedPass(dir: String, tr: Tracer): PassOut
  def check(p: PassOut): Seq[String]
  def checkPass(dir: String): PassOut = PassOut(0.0, Nil, Map.empty, 0, Nil)
  /** The pass whose outputs `--record` stores as the seed's expected
    * values. */
  def recordPass(dir: String): PassOut
  /** Workload-specific per-layer counts. */
  def counts: Map[String, Double] = Map.empty
}

object Workloads {
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Failures of the outputs that differ from the recorded values. */
  def recordedDiffs(outputs: Seq[(String, String)],
      expected: Option[Map[String, String]]): Seq[String] = {
    val o = outputs.toMap
    expected.toSeq.flatMap(_.toSeq).sortBy(_._1).collect {
      case (k, v) if !o.contains(k) => s"$k missing, recorded $v"
      case (k, v) if o(k) != v => s"$k = ${o(k)}, recorded $v"
    }
  }

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** `ClusterJob`'s stage wrapper, rebuilt from public parts inside a
    * span: compute-or-load the stage table through `TableIO.stage`, then
    * append the same wall/CPU metrics rows the job appends. */
  def tracedStage(spark: SparkSession, root: String, name: String,
      runId: String, tr: Tracer)(f: => DataFrame): DataFrame =
    tr.span(name) {
      val fresh = !TableIO.committed(s"$root/$name")
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val df = TableIO.stage(spark, root, name, runId)(f)
      if (fresh)
        TableIO.appendMetrics(spark, root, runId, name, Seq(
          "wall_sec" -> (System.nanoTime() - t0) / 1e9,
          "cpu_sec" -> (osBean.getProcessCpuTime - c0) / 1e9))
      df
    }
}

/** `cluster`: the north-star job, `ClusterJob.run`, on a seeded
  * CorpusGen corpus of `nBases` bases. The warm-up runs the job on a
  * `warmBases` corpus from the same seed: the same Spark jobs, so their
  * code is generated and compiled before the timed pass, at a fraction
  * of a full pass's cost. */
final class ClusterWorkload(spark: SparkSession, seed: Long, nBases: Long,
    warmBases: Long, expected: Option[Map[String, String]]) extends Workload {
  import spark.implicits._
  import Workloads._

  private var rows: Seq[CorpusFile] = Nil
  private var baseOf: Map[Long, Long] = Map.empty
  private var inputBytes = 0L
  private var corpusPath = ""
  private var warmPath = ""
  private var passNo = 0
  private var keptRatio = 0.0
  private var yieldRatio = 0.0

  def setup(dir: String): Unit = {
    val (r, b) = Inputs.clusterCorpus(seed, nBases)
    rows = r; baseOf = b
    inputBytes = Inputs.utf8Bytes(rows)
    corpusPath = s"$dir/corpus"
    deleteTree(new File(corpusPath))
    rows.toDS().write.parquet(corpusPath)
    warmPath = s"$dir/warm-corpus"
    deleteTree(new File(warmPath))
    Inputs.clusterCorpus(seed, warmBases)._1.toDS().write.parquet(warmPath)
  }

  private def corpus: Dataset[CorpusFile] =
    spark.read.parquet(corpusPath).as[CorpusFile]

  def warmup(dir: String): PassOut = {
    val root = freshRoot(dir)
    val (t, _) = timed(ClusterJob.run(
      spark.read.parquet(warmPath).as[CorpusFile], root, s"bench-$passNo"))
    deleteTree(new File(root))
    PassOut(t, Nil, Map.empty, 1, Nil)
  }

  private def freshRoot(dir: String): String = {
    passNo += 1
    s"$dir/pass$passNo"
  }

  /** The pass's outputs, and the truth-pair recall of its clusters
    * table: the share of same-base file pairs that share a cluster id. */
  private def finish(seconds: Double, root: String,
      s: ClusterJob.Summary): PassOut = {
    val labels = spark.read.format(TableIO.Format).load(s"$root/clusters")
      .select($"fileId", $"clusterId").as[(Long, Long)].collect()
    def pairs(n: Long): Long = n * (n - 1) / 2
    val truthPairs = baseOf.values.groupBy(identity).values
      .map(v => pairs(v.size.toLong)).sum
    val found = labels.groupBy { case (f, c) => (baseOf(f), c) }.values
      .map(v => pairs(v.length.toLong)).sum
    val recall = found.toDouble / truthPairs
    val tableBytes = dirBytes(new File(root))
    deleteTree(new File(root))
    keptRatio = s.uniqueChunks.toDouble / s.chunks
    yieldRatio = s.verifiedPairs.toDouble / math.max(s.candidatePairs, 1L)
    PassOut(seconds, Seq(
      "files" -> s.files, "chunks" -> s.chunks,
      "unique_chunks" -> s.uniqueChunks, "total_bytes" -> s.totalBytes,
      "unique_bytes" -> s.uniqueBytes, "candidate_pairs" -> s.candidatePairs,
      "verified_pairs" -> s.verifiedPairs, "clusters" -> s.clusters,
      "clustered_files" -> labels.length.toLong)
      .map { case (k, v) => k -> v.toString } :+
      ("dup_pair_recall" -> Checks.fmt(recall)),
      Map("dedup_ratio" -> s.totalBytes.toDouble / s.uniqueBytes,
        "table_bytes_per_input_byte" -> tableBytes.toDouble / inputBytes,
        "dup_pair_recall" -> recall,
        "files_per_s" -> rows.size / seconds),
      1, Nil)
  }

  def pass(dir: String): PassOut = {
    val root = freshRoot(dir)
    val (t, s) = timed(ClusterJob.run(corpus, root, s"bench-$passNo"))
    finish(t, root, s)
  }

  def check(p: PassOut): Seq[String] = {
    val o = p.outputs.toMap
    def v(k: String): Long = o(k).toLong
    val inv = Seq(
      "files == corpus rows" -> (v("files") == rows.size),
      "total_bytes == utf8 bytes of the corpus" -> (v("total_bytes") == inputBytes),
      "unique_bytes <= total_bytes" -> (v("unique_bytes") <= v("total_bytes")),
      "unique_chunks <= chunks" -> (v("unique_chunks") <= v("chunks")),
      "verified_pairs <= candidate_pairs" ->
        (v("verified_pairs") <= v("candidate_pairs")),
      "clusters <= files" -> (v("clusters") <= v("files")),
      "the clusters table covers every file" ->
        (v("clustered_files") == rows.size))
    inv.collect { case (what, false) => s"invariant $what" } ++
      recordedDiffs(p.outputs, expected)
  }

  def recordPass(dir: String): PassOut = pass(dir)

  /** `ClusterJob.run`'s stage sequence, one span per stage table. */
  def tracedPass(dir: String, tr: Tracer): PassOut = {
    val root = freshRoot(dir)
    val runId = s"bench-$passNo"
    val cfg = DedupConfig()
    val (t, s) = timed(tr.span("pass") {
      def stage(name: String)(f: => DataFrame): DataFrame =
        tracedStage(spark, root, name, runId, tr)(f)
      lazy val featurized = DedupPipeline.featurize(corpus, cfg).toDF().persist()
      val signatures = stage("signatures") {
        featurized.select($"fileId", $"repo", $"path", $"commit", $"lang",
          $"size", $"sha256", $"shingles", $"minhash", $"simhash")
      }
      val chunks = stage("chunks")(DedupPipeline.chunkTableDF(featurized))
      val unique = stage("unique_chunks") {
        DedupPipeline.uniqueChunks(chunks.drop("_lineage").as[ChunkRow]).toDF()
      }
      val packed = stage("containers") {
        DedupPipeline.packContainers(
          unique.drop("_lineage").as[UniqueChunk], cfg).toDF()
      }
      stage("recipe") {
        DedupPipeline.recipe(
          chunks.drop("_lineage").as[ChunkRow],
          packed.drop("_lineage").as[PackedChunk])
      }
      val sigsDs = signatures
        .select($"fileId", $"sha256", $"shingles", $"minhash").as[FileSig]
        .persist()
      val candidates = stage("candidate_pairs") {
        DedupPipeline.candidatePairs(sigsDs, cfg)
      }
      val verified = stage("verified_pairs") {
        DedupPipeline.verifiedPairs(candidates.drop("_lineage"), sigsDs, cfg)
      }
      val clusters = stage("clusters") {
        val edges = verified.select($"a", $"b")
          .union(DedupPipeline.exactContentEdges(sigsDs))
        ConnectedComponents.run(signatures.select($"fileId"), edges, cfg.ccMaxIter)
      }
      val files = signatures.count()
      val chunkStats = chunks.agg(count(lit(1)), sum($"size")).as[(Long, Long)].head()
      val uniqueStats = unique.agg(count(lit(1)), sum($"size")).as[(Long, Long)].head()
      val summary = ClusterJob.Summary(files, chunkStats._1, uniqueStats._1,
        chunkStats._2, uniqueStats._2, candidates.count(), verified.count(),
        clusters.agg(countDistinct($"clusterId")).as[Long].head())
      TableIO.appendMetrics(spark, root, runId, "summary", Seq(
        "files" -> summary.files.toDouble,
        "chunks" -> summary.chunks.toDouble,
        "unique_chunks" -> summary.uniqueChunks.toDouble,
        "total_bytes" -> summary.totalBytes.toDouble,
        "unique_bytes" -> summary.uniqueBytes.toDouble,
        "dedup_ratio" -> (if (summary.uniqueBytes == 0) 0.0
          else summary.totalBytes.toDouble / summary.uniqueBytes),
        "candidate_pairs" -> summary.candidatePairs.toDouble,
        "verified_pairs" -> summary.verifiedPairs.toDouble,
        "clusters" -> summary.clusters.toDouble))
      sigsDs.unpersist()
      featurized.unpersist()
      summary
    })
    finish(t, root, s)
  }

  override def counts: Map[String, Double] = Map(
    "unique_chunks.kept_ratio" -> keptRatio,
    "verified_pairs.yield" -> yieldRatio)
}

/** `backup-chain`: two chained `ClusterJob.backup` jobs over seeded
  * snapshots, then `ClusterJob.expire` of the first backup. A pass is
  * mostly per-job Spark overhead whose cost still falls between the
  * second and the third run of a JVM, so the timed passes are two and
  * their median (the mean of the two) is reported. */
final class BackupChainWorkload(spark: SparkSession, seed: Long,
    nBundles: Int, expected: Option[Map[String, String]]) extends Workload {
  import spark.implicits._
  import Workloads._

  /** destor directives of the chain, parsed by `DestorConfig.parse`. */
  val Config: String =
    """chunk-algorithm rabin
      |chunk-min-size 1024
      |chunk-avg-size 8192
      |chunk-max-size 65536
      |rewrite-algorithm cfl
      |rewrite-enable-har yes
      |restore-cache lru 1024
      |simulation-level restore
      |""".stripMargin
  private val settings = DestorConfig.parse(Config)

  private var snaps: Seq[Seq[CorpusFile]] = Nil
  private var snapPaths: Seq[String] = Nil
  private var snapBytes: Seq[Long] = Nil
  private var passNo = 0
  private var keptRatio = 0.0

  def setup(dir: String): Unit = {
    snaps = Inputs.backupChain(seed, nBundles)
    snapBytes = snaps.map(Inputs.utf8Bytes)
    snapPaths = snaps.indices.map(i => s"$dir/snapshot${i + 1}")
    snaps.zip(snapPaths).foreach { case (s, p) =>
      deleteTree(new File(p))
      s.toDS().write.parquet(p)
    }
  }

  private def snapshot(i: Int): Dataset[CorpusFile] =
    spark.read.parquet(snapPaths(i)).as[CorpusFile]

  private def outputsOf(jobs: Seq[TraceJobStats],
      ex: ClusterJob.ExpireStats): Seq[(String, String)] =
    jobs.flatMap { j =>
      val b = s"b${j.backup_id}"
      Seq("files" -> j.files, "chunks" -> j.chunks, "data_size" -> j.data_size,
        "unique_chunks" -> j.unique_chunks, "unique_size" -> j.unique_size,
        "rewritten_chunks" -> j.rewritten_chunks,
        "rewritten_size" -> j.rewritten_size, "stored_size" -> j.stored_size,
        "containers_written" -> j.containers_written,
        "sparse_containers" -> j.sparse_containers,
        "container_reads" -> j.container_reads)
        .map { case (k, v) => s"$b.$k" -> v.toString } ++ Seq(
        s"$b.speed_factor" -> Checks.fmt(j.speed_factor),
        s"$b.cfl" -> Checks.fmt(j.cfl))
    } ++ Seq("rows_before" -> ex.rowsBefore, "rows_after" -> ex.rowsAfter,
      "migrated_chunks" -> ex.migratedChunks,
      "migrated_bytes" -> ex.migratedBytes,
      "containers_before" -> ex.containersBefore,
      "containers_after" -> ex.containersAfter, "index_fps" -> ex.indexFps)
      .map { case (k, v) => s"expire.$k" -> v.toString }

  private def finish(seconds: Double, passDir: String,
      jobs: Seq[TraceJobStats], ex: ClusterJob.ExpireStats): PassOut = {
    val tableBytes = dirBytes(new File(passDir))
    deleteTree(new File(passDir))
    val dupChunks = jobs.map(j => j.chunks - j.unique_chunks).sum
    keptRatio = jobs.map(_.unique_chunks).sum.toDouble / jobs.map(_.chunks).sum
    PassOut(seconds, outputsOf(jobs, ex), Map(
      "dedup_ratio" -> jobs.map(_.data_size).sum.toDouble /
        jobs.map(_.stored_size).sum,
      "table_bytes_per_input_byte" ->
        tableBytes.toDouble / snapBytes.take(jobs.size).sum,
      "restore_speed_factor" -> jobs.last.speed_factor,
      "rewritten_ratio" -> jobs.map(_.rewritten_chunks).sum.toDouble / dupChunks,
      "files_per_s" -> jobs.map(_.files).sum / seconds),
      jobs.size + 1, Nil)
  }

  /** A pass directory with one checkpoint root per chained job plus the
    * expiry's compacted root. */
  private def rootsOf(dir: String, jobs: Int): (String, Seq[String]) = {
    passNo += 1
    val p = s"$dir/pass$passNo"
    (p, (1 to jobs).map(i => s"$p/b$i") :+ s"$p/gc")
  }

  /** The chain over the first `jobs` snapshots, then the expiry of b1. */
  private def chain(dir: String, jobs: Int): PassOut = {
    val (passDir, roots) = rootsOf(dir, jobs)
    val runId = s"bench-$passNo"
    val (t, (stats, ex)) = timed {
      val stats = (0 until jobs).map { i =>
        ClusterJob.backup(snapshot(i), roots(i), runId, settings,
          if (i == 0) None else Some(roots(i - 1)))
      }
      (stats, ClusterJob.expire(spark, roots.take(jobs), "b1", roots.last, runId))
    }
    finish(t, passDir, stats, ex)
  }

  def pass(dir: String): PassOut = chain(dir, snaps.size)

  override def minPasses: Int = 2

  /** One whole chain: every code path of a pass (a first job, a chained
    * job with a carried index, CFL + HAR with an inherited sparse list,
    * GC). */
  def warmup(dir: String): PassOut =
    chain(dir, snaps.size).copy(outputs = Nil, metrics = Map.empty)

  def check(p: PassOut): Seq[String] = {
    val o = p.outputs.toMap
    def v(k: String): Long = o(k).toLong
    val inv = snaps.indices.flatMap { i =>
      val b = s"b${i + 1}"
      val dup = v(s"$b.chunks") - v(s"$b.unique_chunks")
      Seq(
        s"$b.stored_size == unique_size + rewritten_size" ->
          (v(s"$b.stored_size") == v(s"$b.unique_size") + v(s"$b.rewritten_size")),
        s"$b.data_size == utf8 bytes of snapshot ${i + 1}" ->
          (v(s"$b.data_size") == snapBytes(i)),
        s"$b.files == rows of snapshot ${i + 1}" ->
          (v(s"$b.files") == snaps(i).size)) ++
        (if (i == 0) Nil else Seq(
          s"$b rewrites partially (0 < rewritten < duplicate chunks)" ->
            (v(s"$b.rewritten_chunks") > 0 && v(s"$b.rewritten_chunks") < dup)))
    } ++ Seq(
      "expire.rows_before == chunks of the chain" ->
        (v("expire.rows_before") == snaps.indices.map(i => v(s"b${i + 1}.chunks")).sum),
      "expire.rows_after == rows_before - chunks of b1" ->
        (v("expire.rows_after") == v("expire.rows_before") - v("b1.chunks")))
    inv.collect { case (what, false) => s"invariant $what" } ++
      recordedDiffs(p.outputs, expected)
  }

  def recordPass(dir: String): PassOut = pass(dir)

  /** `ClusterJob.backup` (with `backupChunkStream`) per chained job, one
    * span per stage table, then `ClusterJob.expire` in one span. */
  def tracedPass(dir: String, tr: Tracer): PassOut = {
    val (passDir, roots) = rootsOf(dir, snaps.size)
    val runId = s"bench-$passNo"
    val (t, (jobs, ex)) = timed(tr.span("pass") {
      val jobs = snapPaths.indices.map { i =>
        tr.span(s"b${i + 1}") {
          tracedBackup(snapshot(i), roots(i), runId,
            if (i == 0) None else Some(roots(i - 1)), tr)
        }
      }
      val ex = tr.span("expire") {
        ClusterJob.expire(spark, roots.take(snaps.size), "b1", roots.last, runId)
      }
      (jobs, ex)
    })
    finish(t, passDir, jobs, ex)
  }

  /** `ClusterJob.backup` and `backupChunkStream`, statement for
    * statement: the same Spark jobs in the same order (backup-id
    * derivation, empty-input guards and committed-stage checks
    * included), with each stage table in its own span. */
  private def tracedBackup(corpus: Dataset[CorpusFile], root: String,
      runId: String, prevRoot: Option[String], tr: Tracer): TraceJobStats = {
    val payload = Rewrite.ContainerPayload
    def stage(name: String)(f: => DataFrame): DataFrame =
      tracedStage(spark, root, name, runId, tr)(f)
    val chunks = stage("chunks") {
      DedupPipeline.chunkTableDF(
          DedupPipeline.featurize(corpus, settings.dedupConfig).toDF())
        .select(col("repo"), col("path"), col("commit"), col("chunkIdx"),
          col("size"), col("fp"), col("zero"))
    }
    val chunkStream = chunks.drop("_lineage").select(
      concat_ws("@", col("repo"), col("path"), col("commit")).as("path"),
      col("chunkIdx"), col("fp"), col("size"))
    val (prevIndex, prevSparse, nextCid, backupId) = prevRoot match {
      case Some(p) =>
        require(TableIO.committed(s"$p/index"),
          s"prevRoot $p has no committed index stage")
        val idx = spark.read.format(TableIO.Format).load(s"$p/index")
          .select(col("fp"), col("idxCid"))
        val sp =
          if (TableIO.committed(s"$p/har_sparse"))
            spark.read.format(TableIO.Format).load(s"$p/har_sparse")
              .select(col("containerId"))
          else Seq.empty[Long].toDF("containerId")
        val nc = idx.agg(max(col("idxCid"))).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0) + 1L
        }
        val recTbl = Seq("final_recipe", "recipes")
          .find(t => TableIO.committed(s"$p/$t"))
        val fromLabels = recTbl.flatMap { t =>
          spark.read.format(TableIO.Format).load(s"$p/$t")
            .select(regexp_extract(col("stream"), "^b(\\d+)$", 1)
              .cast("long").as("bid"))
            .agg(max(col("bid"))).head() match {
            case r if r.isNullAt(0) => None
            case r => Some(r.getLong(0) + 1L)
          }
        }
        val fromMetrics =
          try spark.read.format(TableIO.Format).load(s"$p/metrics")
            .filter(col("stage") === "backup" &&
              col("metric") === "backup_id")
            .agg(max(col("value"))).head() match {
            case r if r.isNullAt(0) => None
            case r => Some(r.getDouble(0).toLong + 1L)
          }
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        val bid = fromLabels.orElse(fromMetrics).getOrElse(
          throw new IllegalStateException(s"prevRoot $p has no backup id"))
        (idx, sp, nc, bid)
      case None =>
        (Seq.empty[(String, Long)].toDF("fp", "idxCid"),
          Seq.empty[Long].toDF("containerId"), 0L, 1L)
    }
    val label = s"b$backupId"
    lazy val res = {
      val stream = chunkStream
        .select(col("path"),
          col("chunkIdx").cast("long").as("chunkIdx"), col("fp"),
          col("size").cast("int").as("size"), lit(label).as("stream"),
          lit(1L).as("one"))
      val seqd = DedupPipeline.streamPrefix(stream, "stream",
          Seq("path", "chunkIdx"), "one", "pre")
        .withColumn("seq", col("pre") + 1L).drop("one", "pre")
      if (seqd.isEmpty)
        TraceJobResult(
          Seq.empty[(String, Long, String, String, Int, Boolean, Boolean,
              Long)]
            .toDF("stream", "seq", "path", "fp", "size", "dup", "write",
              "containerId"),
          prevIndex, Seq.empty[Long].toDF("containerId"),
          0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      else
        TracePipeline.oneJob(seqd, prevIndex, prevSparse, nextCid, settings,
          payload)
    }
    val freshFinal = !TableIO.committed(s"$root/final_recipe")
    val finalRec = stage("final_recipe")(res.finalRec)
    stage("index")(res.newIndex)
    val sparseCount =
      if (settings.rewrite.enableHar) stage("har_sparse")(res.sparse).count()
      else 0L
    val fr = finalRec.drop("_lineage")
    val frEmpty = fr.isEmpty
    val doSim = (settings.simulationLevel == "restore" ||
      settings.simulationLevel == "all") && !frEmpty
    val sim =
      if (doSim)
        stage("restore_sim")(settings.restoreSim(
            fr.select(col("stream"), col("seq"), col("containerId"),
              col("size"))))
          .select(col("containerReads"), col("speedFactor"), col("cfl"))
          .as[(Long, Double, Double)].head()
      else (0L, 0.0, 0.0)
    val (files, nChunks, dataSize, uniqC, uniqS, rwC, rwS) =
      if (frEmpty) (0L, 0L, 0L, 0L, 0L, 0L, 0L)
      else fr.agg(
        countDistinct(col("path")), count(lit(1)),
        sum(col("size")).cast("long"),
        sum(when(!col("dup"), 1L).otherwise(0L)),
        sum(when(!col("dup"), col("size")).otherwise(0L)).cast("long"),
        sum(when(col("dup") && col("write"), 1L).otherwise(0L)),
        sum(when(col("dup") && col("write"), col("size")).otherwise(0L))
          .cast("long"))
        .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    val containersWritten =
      if (frEmpty) 0L
      else fr.filter(col("write")).agg(max(col("containerId"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0) - nextCid + 1L
      }
    val stats = TraceJobStats(backupId, files, nChunks, dataSize,
      uniqC, uniqS, rwC, rwS, uniqS + rwS, containersWritten, sparseCount,
      sim._1, sim._2, sim._3)
    if (freshFinal)
      TableIO.appendMetrics(spark, root, runId, "backup", Seq(
        "backup_id" -> stats.backup_id.toDouble,
        "files" -> stats.files.toDouble,
        "chunks" -> stats.chunks.toDouble,
        "data_size" -> stats.data_size.toDouble,
        "unique_chunks" -> stats.unique_chunks.toDouble,
        "unique_size" -> stats.unique_size.toDouble,
        "rewritten_chunks" -> stats.rewritten_chunks.toDouble,
        "rewritten_size" -> stats.rewritten_size.toDouble,
        "stored_size" -> stats.stored_size.toDouble,
        "containers_written" -> stats.containers_written.toDouble,
        "sparse_containers" -> stats.sparse_containers.toDouble,
        "container_reads" -> stats.container_reads.toDouble,
        "speed_factor" -> stats.speed_factor,
        "cfl" -> stats.cfl))
    stats
  }

  override def counts: Map[String, Double] =
    Map("unique_chunks.kept_ratio" -> keptRatio)
}

/** The query sweep (`driver-queries` in `expected.json`), run by the
  * `cluster` workload after the job: `Bench.headline` queries over a
  * seeded `documents` table of `nDocs` documents. The warm-up sweeps a
  * `warmDocs` table of the same shape; the row-count and hash checks run
  * in an untimed pass after the timed ones. */
final class QueriesWorkload(spark: SparkSession, tableSeed: Long,
    nDocs: Int, warmDocs: Int, val names: Seq[String],
    expected: Option[Map[String, String]]) extends Workload {
  import Workloads._

  private var tablesDir = ""
  private var warmDir = ""

  def setup(dir: String): Unit = {
    tablesDir = s"$dir/tables"
    deleteTree(new File(tablesDir))
    Tables.write(spark, tablesDir, tableSeed, nDocs)
    warmDir = s"$dir/warm-tables"
    deleteTree(new File(warmDir))
    Tables.write(spark, warmDir, tableSeed, warmDocs)
  }

  private def query(name: String, dir: String = tablesDir): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  /** Every query once, each forced by a `noop`-format write. */
  private def sweep(dir: String, wrap: (String, => Unit) => Unit): PassOut = {
    val (t, failures) = timed(names.flatMap { n =>
      try { wrap(n, query(n, dir).write.format("noop").mode("overwrite").save()); None }
      catch { case e: Exception => Some(s"$n threw ${e.toString.take(300)}") }
    })
    PassOut(t, Nil, Map.empty, names.size, failures)
  }

  def warmup(dir: String): PassOut = sweep(warmDir, (_, run) => run)

  def pass(dir: String): PassOut = sweep(tablesDir, (_, run) => run)

  def tracedPass(dir: String, tr: Tracer): PassOut =
    tr.span("pass")(sweep(tablesDir, (n, run) => tr.span(s"q.$n")(run)))

  def check(p: PassOut): Seq[String] = Nil

  /** Every query's row count and order-independent content hash,
    * checked against the recorded values. */
  override def checkPass(dir: String): PassOut = {
    val (t, res) = timed(names.map { n =>
      n -> (try Right(Checks.countAndHash(query(n)))
        catch { case e: Exception => Left(e.toString.take(300)) })
    })
    val outputs = res.collect { case (n, Right(v)) => n -> v }
    val failures = res.collect { case (n, Left(err)) => s"$n threw $err" } ++
      recordedDiffs(outputs, expected)
    PassOut(t, outputs, Map.empty, names.size, failures)
  }

  def recordPass(dir: String): PassOut = checkPass(dir)
}

/** Two workloads run back to back in one pass: `first`'s job, then
  * `second`'s. Every pass runs both parts; seconds, outputs, operations
  * and failures add up; `files_per_s` stays `first`'s own. Each part
  * checks its own outputs. */
final class Sequenced(first: Workload, second: Workload) extends Workload {
  private def both(a: PassOut, b: => PassOut): PassOut = {
    val bb = b
    PassOut(a.seconds + bb.seconds, a.outputs ++ bb.outputs,
      bb.metrics ++ a.metrics, a.attempted + bb.attempted,
      a.failures ++ bb.failures)
  }
  def setup(dir: String): Unit = { first.setup(dir); second.setup(dir) }
  def warmup(dir: String): PassOut = both(first.warmup(dir), second.warmup(dir))
  def pass(dir: String): PassOut = both(first.pass(dir), second.pass(dir))
  override def minPasses: Int = math.max(first.minPasses, second.minPasses)
  def tracedPass(dir: String, tr: Tracer): PassOut =
    both(first.tracedPass(dir, tr), second.tracedPass(dir, tr))
  def check(p: PassOut): Seq[String] = first.check(p) ++ second.check(p)
  override def checkPass(dir: String): PassOut =
    both(first.checkPass(dir), second.checkPass(dir))
  def recordPass(dir: String): PassOut =
    both(first.recordPass(dir), second.recordPass(dir))
  override def counts: Map[String, Double] = first.counts ++ second.counts
}

object Checks {
  /** Canonical text of a double: 12 significant digits, so sums that
    * differ only in float evaluation order compare equal. */
  def fmt(d: Double): String = String.format(java.util.Locale.ROOT, "%.12g",
    java.lang.Double.valueOf(d))

  /** Row count and an order-independent content hash of a query result:
    * the sum of per-row xxhash64 values over a canonical text form of
    * every column (floating-point values rounded to 12 significant
    * digits). */
  def countAndHash(df: DataFrame): String = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def canon(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column =
      t match {
        case DoubleType | FloatType =>
          when(c.isNull, lit("null")).otherwise(
            format_string("%.12g", c.cast(DoubleType)))
        case ArrayType(et @ (DoubleType | FloatType), _) =>
          transform(c, x => canon(x, et))
        case _ => c.cast(StringType)
      }
    val cols = d.schema.fields.map(f => canon(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")),
        lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}
