package graft.perfbench

import scala.util.Random
import graft.corpus.{CorpusFile, CorpusGen}

/** Seeded inputs of the two jobs. Every input is a pure function
  * of (workload, seed, size), generated here — nothing is read from a
  * shared cache.
  */
object Inputs {

  /** The `cluster` corpus with its truth labels (same-`baseId` files
    * belong together). */
  def clusterCorpus(seed: Long, nBases: Long): (Seq[CorpusFile], Map[Long, Long]) = {
    val rows = CorpusGen.generateLocal(nBases, seed)
    val baseOf = rows.map { case (f, t) =>
      graft.functions.Hash64.fileId(f.repo, f.path, f.commit) -> t.baseId
    }.toMap
    require(baseOf.size == rows.size, "corpus file keys are not unique")
    (rows.map(_._1), baseOf)
  }

  /** Bundled files of `n` consecutive CorpusGen rows, so one backup file
    * spans several CDC chunks. */
  private val BundleOf = 16

  /** Snapshots, and so chained backup jobs, per `backup-chain` pass. */
  private val Snapshots = 2

  /** A two-snapshot backup chain built from CorpusGen base documents:
    * snapshot 1 is `nBundles` bundles of 16 files each (~64 KB); snapshot
    * 2 edits 40% of the bundles, deletes 2% and adds 2% new ones,
    * relative to snapshot 1. Edits come in pairs of bundles
    * adjacent in backup-stream order: one line of the fourth-last file of
    * the first bundle and one of the fourth file of the next, each bundle
    * getting a new commit id. Which bundles and lines is drawn from the
    * seed; the counts and the gap between the two edits of a pair are
    * fixed, so every seed chains about the same amount of change.
    *
    * The pairs keep the CFL rewrite partial on every seed: the duplicate
    * run between the two edits of a pair is about six files (~24 KB),
    * below CFL's 3%-of-a-container threshold, so it is rewritten, while
    * the long runs of untouched bundles between pairs are not.
    */
  def backupChain(seed: Long, nBundles: Int): Seq[Seq[CorpusFile]] = {
    // base documents only: the chain's duplication then comes from the
    // chained snapshots, not from vendored copies inside one snapshot,
    // which keeps the rewrite ratio a property of the edits; 17 bases per
    // bundle leave spares for the bundles later snapshots add
    val files = CorpusGen.generateLocal(nBundles * 17L + 64, seed ^ 0x5eedL)
      .collect { case (f, t) if t.kind == "base" => f }
    final case class Bundle(parts: Vector[String], file: CorpusFile)
    def bundle(id: Int, parts: Seq[CorpusFile]): Bundle = {
      val h = parts.head
      Bundle(parts.map(_.content).toVector, CorpusFile(h.repo,
        f"${h.path}.bundle$id%05d", h.commit, h.lang,
        parts.map(_.content).mkString))
    }
    val grouped = files.grouped(BundleOf).toVector
      .filter(_.size == BundleOf).zipWithIndex
    val (first, spare) = grouped.splitAt(nBundles)
    require(spare.size >= 2 * math.max(nBundles / 50, 1),
      "too few spare bundles for the chain's additions")
    val fresh = spare.iterator
    var cur = first.map { case (p, i) => bundle(i, p) }
    val r = new Random(seed * 0x2545F491L + 17)
    val snaps = Seq.newBuilder[Seq[CorpusFile]]
    snaps += cur.map(_.file)
    def edit(b: Bundle, k: Int, v: Int): Bundle = {
      val lines = b.parts(k).split("\n", -1).toVector
      val at = r.nextInt(math.max(lines.size - 1, 1))
      val np = b.parts.updated(k,
        lines.updated(at, s"  // v$v edit ${r.nextLong()}").mkString("\n"))
      Bundle(np, b.file.copy(content = np.mkString,
        commit = f"${r.nextLong().abs}%040x".takeRight(40)))
    }
    for (v <- 2 to Snapshots) {
      val nPairs = math.max(cur.size / 5, 1)
      val nDel = math.max(cur.size / 50, 1)
      // pairs are adjacent in backup-stream order (repo@path@commit)
      val order = cur.indices.sortBy(i => s"${cur(i).file.repo}@${cur(i).file.path}")
      val used = scala.collection.mutable.Set.empty[Int]
      val pairs = Seq.newBuilder[(Int, Int)]
      var left = nPairs
      r.shuffle((0 until order.size - 1).toVector).foreach { j =>
        val (p, q) = (order(j), order(j + 1))
        if (left > 0 && !used(p) && !used(q)) {
          pairs += ((p, q)); used += p; used += q; left -= 1
        }
      }
      val edits = pairs.result().flatMap { case (p, q) =>
        Seq(p -> (BundleOf - 4), q -> 3)
      }.toMap
      val dels = r.shuffle(cur.indices.filterNot(used).toVector).take(nDel).toSet
      val edited = cur.indices.filterNot(dels).map { i =>
        edits.get(i).map(k => edit(cur(i), k, v)).getOrElse(cur(i))
      }
      val added = (0 until nDel).map { _ =>
        val (p, i) = fresh.next()
        bundle(i, p)
      }
      cur = (edited ++ added).toVector
      snaps += cur.map(_.file)
    }
    snaps.result()
  }

  def utf8Bytes(rows: Seq[CorpusFile]): Long =
    rows.iterator.map(_.content.getBytes(
      java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
}
