package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The benchmark's own test: runs both workloads on small inputs, checks
  * that their outputs pass, then corrupts each kind of output and checks
  * that the corruption is caught. Exits 1 if a clean output fails or a
  * corrupted one passes.
  *
  * {{{
  * SelfTest WORKDIR
  * }}}
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String, errors: Seq[String], caught: Boolean): Unit = {
    val ok = errors.nonEmpty == caught
    if (!ok) failures += 1
    val detail = errors.headOption.map(e => s": $e").getOrElse("")
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what$detail")
  }

  /** Rewrite `f` with `edit`, run `check`, restore `f`. */
  private def corrupted(f: File, edit: String => String)(check: => Seq[String]): Seq[String] = {
    val orig = Files.readAllBytes(f.toPath)
    Files.write(f.toPath, edit(new String(orig, UTF_8)).getBytes(UTF_8))
    try check finally Files.write(f.toPath, orig)
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = graft.engine.GraftSession.build("perfbench-selftest",
      Runtime.getRuntime.availableProcessors.toString,
      Map("spark.local.dir" -> s"$work/spark-local"))
    try {
      val load = new LoadWorkload(spark, s"$work/load", 7,
        Gen.LakeSize(orders = 800, customers = 500, events = 400, payments = 400),
        Gen.CorpusSize(docs = 300, exactGroups = 8, nearGroups = 8,
          shortDocs = 5, blockedDocs = 5))
      load.setup()
      for (i <- 0 until load.roundSize) load.op(i)
      expect("load: clean outputs pass", load.check(), caught = false)
      val orders = load.tables.head
      val dir = new File(s"${load.out}/${orders.name}")
      val part = dir.listFiles.filter(f => f.getName.startsWith("part-") && f.length > 0).head
      expect("load: dropped payload line is caught",
        corrupted(part, _.split("\n", -1).drop(1).mkString("\n"))(load.checkTable(orders)),
        caught = true)
      expect("load: lost NULL is caught",
        corrupted(part, _.replaceFirst("\\\\N", "x"))(load.checkTable(orders)),
        caught = true)
      val manifest = new File(s"${load.out}/${orders.name}.copy.sql")
      expect("load: manifest missing a part file is caught",
        corrupted(manifest, _.split("\n").drop(1).mkString("", "\n", "\n"))(
          load.checkTable(orders)), caught = true)

      val cur = load.curation
      val survivors = cur.survivors()
      val group = cur.corpus.groups.head
      expect("curate: two survivors of one duplicate group are caught",
        cur.checkOutputs(survivors ++ group, cur.reference), caught = true)
      expect("curate: a lost document is caught",
        cur.checkOutputs(survivors -- group, cur.reference), caught = true)
      expect("curate: a blocklisted document in the output is caught",
        cur.checkOutputs(survivors, cur.reference :+ cur.corpus.blockedIds.head),
        caught = true)

      val serve = new ServeWorkload(spark, s"$work/serve", 7,
        Gen.VectorSize(dim = 16, clusters = 6, base = 600, appends = 1,
          perAppend = 200, queries = 16), batch = 4)
      serve.setup()
      for (i <- 0 until 4) serve.op(i)
      expect("serve: clean outputs pass", serve.check(), caught = false)
      val (indexed, inline) = serve.answers()
      val (q, top) = indexed.head
      val wrong = indexed.updated(q, top.reverse)
      expect("serve: index answer differing from the inline search is caught",
        serve.checkOutputs(wrong, inline, serve.served.toMap), caught = true)
      expect("serve: a served answer differing from the index is caught",
        serve.checkOutputs(indexed, inline, serve.served.toMap.updated(q, top.reverse)),
        caught = true)
    } finally spark.stop()
    println(s"[selftest] ${if (failures == 0) "passed" else s"$failures FAILED"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
