package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The engine only ever sees the files written
  * here; the ground truth each check compares against is computed here,
  * from the generated values, never by the engine.
  *
  * Input sizes are fixed; the seed changes only the values, so every
  * seed does the same amount of work.
  */
object Gen {

  /** Independent stream `k` of seed `seed`. */
  def rng(seed: Long, k: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k * 0xBF58476D1CE4E5B9L)

  private def writeText(f: File)(body: BufferedWriter => Unit): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8))
    try body(w) finally w.close()
  }

  private def word(r: SplittableRandom, minLen: Int, maxLen: Int): String = {
    val n = minLen + r.nextInt(maxLen - minLen + 1)
    val sb = new StringBuilder(n)
    for (_ <- 0 until n) sb.append(('a' + r.nextInt(26)).toChar)
    sb.toString
  }

  private def date(r: SplittableRandom): String =
    java.time.LocalDate.ofEpochDay(18000 + r.nextInt(2000)).toString

  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'#'HH:mm:ss")

  private def timestamp(r: SplittableRandom, sep: String): String =
    java.time.LocalDateTime.ofEpochSecond(1500000000L + r.nextInt(200000000),
      0, java.time.ZoneOffset.UTC).format(TsFormat).replace("#", sep)

  /** A value in [0, max) with `digits` decimals, as text. */
  private def decimal(r: SplittableRandom, max: Int, digits: Int): String =
    java.math.BigDecimal.valueOf(r.nextLong(max * math.pow(10, digits).toLong),
      digits).toPlainString

  // ------------------------------------------------------------------ load

  /** One source table of the lake, with its ground truth: row count and
    * the null count of every TARGET column after alignment (source
    * nulls plus the NULL fill of target columns the source lacks).
    */
  final case class LoadTable(name: String, source: String, format: String,
                             targetDdl: String, files: Int, rows: Long,
                             nulls: Map[String, Long]) {
    def targetColumns: Seq[String] =
      DataType.fromDDL(targetDdl).asInstanceOf[StructType].fieldNames.toSeq
  }

  /** Rows per table. */
  final case class LakeSize(orders: Int, customers: Int, events: Int,
                            payments: Int)

  /** The lake: four tables in four formats. Every table has upper- or
    * mixed-case source columns, a target column the source lacks, source
    * columns the target drops, and casts. `orders`, `events` and
    * `payments` are many-shard; `customers` is one large csv file;
    * `events` shards disagree on their keys (an extra key in half of
    * them, a missing key in the other half).
    */
  def lake(spark: SparkSession, dir: String, seed: Long,
           size: LakeSize): Seq[LoadTable] =
    Seq(orders(spark, s"$dir/orders", seed, size.orders),
      customers(s"$dir/customers.csv", seed, size.customers),
      events(s"$dir/events", seed, size.events),
      payments(s"$dir/payments", seed, size.payments))

  private final class NullCensus(cols: Seq[String]) {
    private val n = scala.collection.mutable.LinkedHashMap(cols.map(_ -> 0L): _*)
    def add(c: String, k: Long = 1L): Unit = n(c) += k
    def result: Map[String, Long] = n.filter(_._2 > 0).toMap
  }

  private def orders(spark: SparkSession, path: String, seed: Long,
                     rows: Int): LoadTable = {
    val shards = 16
    val r = rng(seed, 1)
    val ddl = "order_id BIGINT, customer_id BIGINT, status STRING, " +
      "totalprice DECIMAL(12,2), order_date DATE, comment STRING, priority INT"
    val nulls = new NullCensus(Seq("status", "totalprice", "comment", "priority"))
    val statuses = Array("open", "filled", "partial", "cancelled")
    val data = (0 until rows).map { i =>
      val status = if (r.nextInt(20) == 0) { nulls.add("status"); null }
                   else statuses(r.nextInt(statuses.length))
      val price: java.lang.Double =
        if (r.nextInt(33) == 0) { nulls.add("totalprice"); null }
        else decimal(r, 50000, 2).toDouble
      // tabs, newlines and backslashes exercise the COPY escaping
      val comment = r.nextInt(10) match {
        case 0 => nulls.add("comment"); null
        case 1 => word(r, 3, 8) + "\t" + word(r, 3, 8) + "\\n" + word(r, 2, 5)
        case 2 => word(r, 3, 8) + "\n" + word(r, 3, 8)
        case _ => (0 until 1 + r.nextInt(6)).map(_ => word(r, 2, 9)).mkString(" ")
      }
      Row(i.toLong, r.nextInt(100000), status, price, date(r), comment,
        r.nextInt(7))
    }
    nulls.add("priority", rows)
    val schema = StructType(Seq(
      StructField("ORDER_ID", LongType), StructField("Customer_ID", IntegerType),
      StructField("STATUS", StringType), StructField("TotalPrice", DoubleType),
      StructField("ORDER_DATE", StringType), StructField("Comment", StringType),
      StructField("_batch", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(data, shards), schema)
      .write.parquet(path)
    LoadTable("orders", path, "parquet", ddl, shards, rows, nulls.result)
  }

  private def customers(path: String, seed: Long, rows: Int): LoadTable = {
    val r = rng(seed, 2)
    val ddl = "cust_key BIGINT, name STRING, nation_key INT, " +
      "acct_bal DECIMAL(12,2), signup_ts TIMESTAMP, mktsegment STRING, " +
      "email STRING"
    val nulls = new NullCensus(Seq("name", "acct_bal", "email"))
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    writeText(new File(path)) { w =>
      w.write("Cust_Key,NAME,Nation_Key,Acct_Bal,Signup_TS,MktSegment,Phone\n")
      for (i <- 0 until rows) {
        val name = if (r.nextInt(25) == 0) { nulls.add("name"); "" }
                   else "Customer#" + word(r, 6, 10)
        val bal = if (r.nextInt(50) == 0) { nulls.add("acct_bal"); "" }
                  else (if (r.nextInt(5) == 0) "-" else "") + decimal(r, 10000, 2)
        w.write(s"$i,$name,${r.nextInt(25)},$bal,${timestamp(r, " ")}," +
          s"${segments(r.nextInt(segments.length))},${10 + r.nextInt(25)}-" +
          s"${100 + r.nextInt(900)}-${1000 + r.nextInt(9000)}\n")
      }
    }
    nulls.add("email", rows)
    LoadTable("customers", path, "csv", ddl, 1, rows, nulls.result)
  }

  private def events(path: String, seed: Long, rows: Int): LoadTable = {
    val shards = 8
    val r = rng(seed, 3)
    val ddl = "event_id BIGINT, userid INT, kind STRING, " +
      "amount DECIMAL(10,2), ts TIMESTAMP, source STRING"
    val nulls = new NullCensus(Seq("kind", "amount", "source"))
    val kinds = Array("view", "click", "cart", "purchase", "refund")
    val per = rows / shards
    for (s <- 0 until shards) writeText(new File(f"$path/part-$s%05d.json")) { w =>
      for (j <- 0 until per) {
        val id = s.toLong * per + j
        val kind = if (r.nextInt(20) == 0) { nulls.add("kind"); "null" }
                   else "\"" + kinds(r.nextInt(kinds.length)) + "\""
        // first half of the shards carry an extra key; the second half
        // lacks `amount` altogether
        val tail =
          if (s < shards / 2) {
            val amt = if (r.nextInt(50) == 0) { nulls.add("amount"); "null" }
                      else decimal(r, 2000, 2)
            s""","amount":$amt,"debug":"${word(r, 4, 8)}""""
          } else { nulls.add("amount"); "" }
        w.write(s"""{"event_id":$id,"UserId":${r.nextInt(50000)},"kind":$kind,""" +
          s""""ts":"${timestamp(r, "T")}Z"$tail}""" + "\n")
      }
    }
    nulls.add("source", per.toLong * shards)
    LoadTable("events", path, "json", ddl, shards, per.toLong * shards,
      nulls.result)
  }

  private def payments(path: String, seed: Long, rows: Int): LoadTable = {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val shards = 4
    val r = rng(seed, 4)
    val ddl = "pay_id BIGINT, order_ref BIGINT, method STRING, " +
      "cents DECIMAL(14,0), paid_day DATE, note STRING, currency STRING"
    val nulls = new NullCensus(Seq("method", "note", "currency"))
    val schema: Schema = SchemaBuilder.record("Payment").fields()
      .requiredLong("PAY_ID").requiredLong("Order_Ref")
      .optionalString("Method").requiredLong("cents")
      .requiredString("paid_day").optionalString("note")
      .requiredInt("gateway_code")
      .endRecord()
    val methods = Array("card", "wire", "voucher", "wallet")
    val per = rows / shards
    new File(path).mkdirs()
    for (s <- 0 until shards) {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, new File(f"$path/part-$s%05d.avro"))
      try for (j <- 0 until per) {
        val rec = new GenericData.Record(schema)
        rec.put("PAY_ID", s.toLong * per + j)
        rec.put("Order_Ref", r.nextLong(1000000L))
        rec.put("Method", if (r.nextInt(30) == 0) { nulls.add("method"); null }
                          else methods(r.nextInt(methods.length)))
        rec.put("cents", r.nextLong(10000000L))
        rec.put("paid_day", date(r))
        rec.put("note", if (r.nextInt(4) == 0) { nulls.add("note"); null }
                        else word(r, 4, 12))
        rec.put("gateway_code", r.nextInt(1000))
        w.append(rec)
      } finally w.close()
    }
    nulls.add("currency", per.toLong * shards)
    LoadTable("payments", path, "avro", ddl, shards, per.toLong * shards,
      nulls.result)
  }

  // ---------------------------------------------------------------- curate

  /** A document corpus with injected duplicates under known ids.
    *
    * @param groups every injected duplicate group (exact copies, or near
    *   copies whose pairwise word-trigram Jaccard is at least `minJaccard`);
    *   dedup must keep exactly one member of each
    * @param shortIds documents below the quality gate's token minimum
    * @param blockedIds documents containing the blocklisted pattern
    */
  final case class Corpus(path: String, ids: Array[Long], groups: Seq[Seq[Long]],
                          shortIds: Set[Long], blockedIds: Set[Long])

  final case class CorpusSize(docs: Int, exactGroups: Int, nearGroups: Int,
                              shortDocs: Int, blockedDocs: Int)

  val BlockedWord = "casinobonus"

  def trigramJaccard(a: Array[String], b: Array[String]): Double = {
    def tri(w: Array[String]) = w.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (tri(a), tri(b))
    (x & y).size.toDouble / (x | y).size
  }

  def corpus(spark: SparkSession, path: String, seed: Long, size: CorpusSize,
             minJaccard: Double): Corpus = {
    val r = rng(seed, 10)
    val vocab = Iterator.continually(word(r, 3, 8)).distinct.take(3000).toArray
    def sentence(n: Int): Array[String] =
      Array.fill(n)(vocab(r.nextInt(vocab.length)))
    val docs = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val groups = scala.collection.mutable.ArrayBuffer.empty[Seq[Int]]
    val short, blocked = scala.collection.mutable.ArrayBuffer.empty[Int]
    def add(w: Array[String]): Int = { docs += w; docs.length - 1 }
    for (_ <- 0 until size.exactGroups) {
      val base = sentence(25 + r.nextInt(35))
      groups += Seq.fill(2 + r.nextInt(2))(add(base.clone()))
    }
    for (_ <- 0 until size.nearGroups) {
      val base = sentence(30 + r.nextInt(30))
      val members = scala.collection.mutable.ArrayBuffer(base)
      val n = 2 + r.nextInt(3)
      while (members.length < n) {
        // substitute one word in twenty (at least one): trigram Jaccard
        // stays far above the dedup threshold
        val v = base.clone()
        for (_ <- 0 until math.max(1, v.length / 20))
          v(r.nextInt(v.length)) = vocab(r.nextInt(vocab.length))
        if (members.forall(m => !m.sameElements(v) &&
            trigramJaccard(m, v) >= minJaccard)) members += v
      }
      groups += members.map(add).toSeq
    }
    for (_ <- 0 until size.shortDocs) short += add(sentence(2 + r.nextInt(4)))
    for (_ <- 0 until size.blockedDocs) {
      val w = sentence(20 + r.nextInt(30))
      w(r.nextInt(w.length)) = BlockedWord
      blocked += add(w)
    }
    while (docs.length < size.docs) add(sentence(15 + r.nextInt(60)))
    // ids are a seeded permutation, so groups are not id-contiguous
    val ids = {
      val a = Array.tabulate(docs.length)(i => 1000L + i * 7L)
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val langs = Array("en", "en", "en", "de", "fr", "es")
    val rows = docs.indices.map(i =>
      Row(ids(i), langs(r.nextInt(langs.length)), docs(i).mkString(" ")))
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(path)
    Corpus(path, ids, groups.map(_.map(ids(_))).toSeq,
      short.map(ids(_)).toSet, blocked.map(ids(_)).toSet)
  }

  // ----------------------------------------------------------------- serve

  /** Clustered embedding vectors: `generations` batches (the first is the
    * index build, the rest are appends) plus a query pool.
    */
  final case class Vectors(dim: Int, generations: Seq[Array[(Long, Array[Float])]],
                           queries: Array[(Long, Array[Float])])

  final case class VectorSize(dim: Int, clusters: Int, base: Int,
                              appends: Int, perAppend: Int, queries: Int)

  def vectors(seed: Long, size: VectorSize): Vectors = {
    val r = rng(seed, 20)
    val centers = Array.fill(size.clusters, size.dim)(r.nextDouble() * 2 - 1)
    def near(c: Array[Double], sigma: Double): Array[Float] =
      c.map(x => (x + sigma * gauss(r)).toFloat)
    var next = 0L
    def batch(n: Int) = Array.fill(n) {
      val v = near(centers(r.nextInt(centers.length)), 0.35)
      next += 1
      (next - 1, v)
    }
    val gens = batch(size.base) +: Seq.fill(size.appends)(batch(size.perAppend))
    val queries = Array.tabulate(size.queries)(i =>
      (10000000L + i, near(centers(r.nextInt(centers.length)), 0.45)))
    Vectors(size.dim, gens, queries)
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  val VectorSchema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def vectorRows(vs: Seq[(Long, Array[Float])]): java.util.List[Row] =
    vs.map { case (id, v) => Row(id, v.toSeq) }.asJava

  /** The engine's similarity: dot product of floor(x * 1000) quantized
    * vectors, exact in 64-bit integers.
    */
  def quantize(v: Array[Float]): Array[Long] =
    v.map(x => math.floor(x.toDouble * 1000.0).toLong)

  /** Brute-force top-k corpus ids per query: score descending, ties to
    * the lower id.
    */
  def bruteForceTopK(corpus: Seq[(Long, Array[Float])],
                     queries: Seq[(Long, Array[Float])],
                     k: Int): Map[Long, Seq[Long]] = {
    val ids = corpus.map(_._1).toArray
    val cq = corpus.map(c => quantize(c._2)).toArray
    queries.map { case (qid, qv0) =>
      val qv = quantize(qv0)
      // k best (score desc, id asc), kept sorted by insertion
      val bestId = Array.fill(k)(Long.MaxValue)
      val bestS = Array.fill(k)(Long.MinValue)
      for (c <- ids.indices) {
        val cv = cq(c)
        var s = 0L; var i = 0
        while (i < qv.length) { s += qv(i) * cv(i); i += 1 }
        val id = ids(c)
        def better(j: Int) = s > bestS(j) || (s == bestS(j) && id < bestId(j))
        if (better(k - 1)) {
          var j = k - 1
          while (j > 0 && better(j - 1)) {
            bestS(j) = bestS(j - 1); bestId(j) = bestId(j - 1); j -= 1
          }
          bestS(j) = s; bestId(j) = id
        }
      }
      qid -> bestId.toSeq
    }.toMap
  }
}
