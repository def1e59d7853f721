package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Shared on-disk GENERATION STORE for the streaming twins' durable
  * state (DocStream's admissions, EmbStream's assigned/canon stores).
  * The commit discipline, shared by both:
  *
  *   - committed generations are directories named `b<seq>`, numeric
  *     order (lexicographic breaks past b9);
  *   - a batch stages every write under `tmp_b<seq>` and COMMITS with
  *     ONE atomic directory rename AFTER its sink returned — partial
  *     writes can never surface, and a crash before the rename leaves
  *     the store untouched (the replayed batch re-runs; stale staged
  *     dirs are swept at startup);
  *   - tiny driver-state snapshots (pack offsets, merge maps) ride
  *     INSIDE the staged dir as `_`-prefixed TSVs, so state and data
  *     commit in the same rename (and stay invisible to parquet scans
  *     over the generation dirs — Spark's hidden-file rule);
  *   - a compaction commits its folded generation carrying a
  *     `_replaces.tsv` marker naming the generations it supersedes;
  *     the stale generations are deleted after the commit, and a crash
  *     between commit and delete is healed on the next startup by
  *     finishing the recorded deletes.
  */
object GenStore {

  /** Committed generations under `root`, numerically ordered. */
  def committed(root: Path): Seq[Path] = {
    val s = Files.list(root)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.matches("b\\d+"))
      .toList.sortBy(seqOf)
    finally s.close()
  }

  def seqOf(gen: Path): Long = gen.getFileName.toString.drop(1).toLong

  /** Next generation number: max committed suffix + 1 (count-based
    * numbering would collide after a compaction folds generations).
    */
  def nextSeq(root: Path): Long =
    committed(root).map(seqOf).maxOption.map(_ + 1L).getOrElse(0L)

  def stagedPath(root: Path, seq: Long): Path = root.resolve(s"tmp_b$seq")

  /** The COMMIT POINT: one atomic rename moves the staged dir (data +
    * state snapshots together) into the committed namespace.
    */
  def commit(root: Path, staged: Path, seq: Long): Path = {
    val dst = root.resolve(s"b$seq")
    Files.move(staged, dst, StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  /** Delete staged (uncommitted) dirs left by a crash. */
  def sweepStaged(root: Path): Unit = {
    val s = Files.list(root)
    val stale = try s.iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("tmp_b"))
      .toList
    finally s.close()
    stale.foreach(deleteRecursively)
  }

  /** Record, inside a staged compaction generation, which generations
    * it supersedes.
    */
  def writeReplaces(staged: Path, replaced: Seq[Path]): Unit =
    writeLines(staged.resolve("_replaces.tsv"),
      replaced.map(_.getFileName.toString))

  /** Finish a compaction that crashed between its commit rename and
    * the deletion of the generations it replaced (their rows would
    * otherwise appear twice in the multi-generation scans).
    */
  def healReplaces(root: Path): Unit =
    for (g <- committed(root)) {
      val marker = g.resolve("_replaces.tsv")
      if (Files.exists(marker)) {
        readLines(marker).map(root.resolve)
          .filter(Files.exists(_)).foreach(deleteRecursively)
        Files.deleteIfExists(marker)
      }
    }

  def deleteRecursively(p: Path): Unit = {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally s.close()
  }

  def writeLines(file: Path, lines: Seq[String]): Unit =
    Files.write(file, lines.mkString("\n").getBytes("UTF-8"))

  def readLines(file: Path): Seq[String] = {
    val src = scala.io.Source.fromFile(file.toFile, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toList finally src.close()
  }

  /** (k, v) long-pair snapshot IO — pack offsets, merge maps. */
  def writePairs(file: Path, pairs: scala.collection.Map[Long, Long]): Unit =
    writeLines(file, pairs.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k\t$v" })

  def readPairs(file: Path): Seq[(Long, Long)] =
    readLines(file).map { l =>
      val Array(k, v) = l.split("\t")
      (k.toLong, v.toLong)
    }

  /** Newest committed generation carrying `name`, read as pairs. */
  def loadNewestPairs(committedGens: Seq[Path],
                      name: String): Option[Seq[(Long, Long)]] =
    committedGens.reverse.iterator.map(_.resolve(name))
      .find(Files.exists(_)).map(readPairs)

  /** (token, count) snapshot IO for string-keyed merge maps (the
    * streaming MG heavy-hitter summary). Tokens are URL-encoded so
    * arbitrary characters (tabs, newlines — tokens are split on space
    * only) survive the TSV framing byte-exactly.
    */
  def writeTokenCounts(file: Path,
                       m: scala.collection.Map[String, Long]): Unit =
    writeLines(file, m.toSeq.sortBy(_._1).map { case (t, c) =>
      java.net.URLEncoder.encode(t, "UTF-8") + "\t" + c })

  def readTokenCounts(file: Path): Seq[(String, Long)] =
    readLines(file).map { l =>
      val i = l.lastIndexOf('\t')
      (java.net.URLDecoder.decode(l.substring(0, i), "UTF-8"),
        l.substring(i + 1).toLong)
    }

  /** Newest committed generation carrying `name`, read as token counts. */
  def loadNewestTokenCounts(committedGens: Seq[Path],
                            name: String): Option[Seq[(String, Long)]] =
    committedGens.reverse.iterator.map(_.resolve(name))
      .find(Files.exists(_)).map(readTokenCounts)
}
