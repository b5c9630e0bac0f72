package graftbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. The same seed gives the same inputs; the
  * engine only ever sees the files written here, while the truth each
  * check needs (source genome of every read, planted duplicate pairs)
  * stays on the benchmark side.
  */
object Gen {

  // ---------------------------------------------------------------- reads

  final case class Sample(name: String, path: String, nReads: Int,
      truth: Map[String, String], counts: Map[String, Long])

  final case class ReadSet(refsFasta: String, genomes: IndexedSeq[(String, String)],
      samples: IndexedSeq[Sample])

  private def revComp(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = s.length - 1
    while (i >= 0) {
      sb.append(s.charAt(i) match {
        case 'A' => 'T'; case 'C' => 'G'; case 'G' => 'C'; case _ => 'A'
      })
      i -= 1
    }
    sb.toString
  }

  /** A synthetic metagenome: `nGenomes` references taken from
    * `LayerB.syntheticGenomes` at a seed-derived offset, and `nSamples`
    * FASTQ files whose reads are drawn from them with per-sample
    * abundances, random strand and substitution rate `subRate` (0.5%
    * by default, about what short-read sequencers give).
    */
  def reads(dir: File, seed: Long, nGenomes: Int, genomeLen: Int, nSamples: Int,
      readsPerSample: Int, readLen: Int = 150, subRate: Double = 0.005): ReadSet = {
    dir.mkdirs()
    val offset = java.lang.Math.floorMod(seed, 64L).toInt
    val genomes = graft.queries.LayerB.syntheticGenomes(offset + nGenomes, genomeLen)
      .drop(offset).zipWithIndex.map { case (g, i) => (s"genome$i", g) }.toIndexedSeq
    val refs = new File(dir, "refs.fa")
    val fw = new BufferedWriter(new FileWriter(refs))
    try genomes.foreach { case (n, g) => fw.write(s">$n\n$g\n") } finally fw.close()
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    val samples = (0 until nSamples).map { s =>
      val weights = Array.fill(nGenomes)(-math.log(1.0 - rng.nextDouble()))
      val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
      val name = s"sample$s"
      val path = new File(dir, s"$name.fastq")
      val truth = Map.newBuilder[String, String]
      val counts = Array.fill(nGenomes)(0L)
      val w = new BufferedWriter(new FileWriter(path))
      val qual = "I" * readLen
      try (0 until readsPerSample).foreach { r =>
        val u = rng.nextDouble()
        val gi = math.min(nGenomes - 1, cdf.indexWhere(_ >= u) match {
          case -1 => nGenomes - 1; case i => i
        })
        val (gName, g) = genomes(gi)
        val pos = rng.nextInt(genomeLen - readLen)
        val chars = g.substring(pos, pos + readLen).toCharArray
        var i = 0
        while (i < chars.length) {
          if (rng.nextDouble() < subRate) {
            val alt = "ACGT".filter(_ != chars(i))
            chars(i) = alt(rng.nextInt(3))
          }
          i += 1
        }
        val fwd = new String(chars)
        val seq = if (rng.nextBoolean()) revComp(fwd) else fwd
        val id = s"${name}_r$r"
        truth += id -> gName
        counts(gi) += 1
        w.write(s"@$id\n$seq\n+\n$qual\n")
      } finally w.close()
      Sample(name, path.getAbsolutePath, readsPerSample, truth.result(),
        genomes.map(_._1).zip(counts).filter(_._2 > 0).toMap)
    }
    ReadSet(refs.getAbsolutePath, genomes, samples)
  }

  // --------------------------------------------------------------- corpus

  /** Zipf(s = 1) sampler over a fixed permutation of a fixed
    * vocabulary. The permutation is the same on every seed: with a
    * seeded one, the words ranked first changed the corpus's text length
    * and shingle overlap, and with them the dedup chain's work: on a
    * 4-core box one seed's chains took a third longer than another's. */
  final class Zipf(val vocab: IndexedSeq[String]) {
    private val ranked: Array[String] = {
      val a = vocab.toArray
      val r = new SplittableRandom(0x5DEECE66DL)
      var i = a.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a
    }
    private val cdf: Array[Double] = {
      val w = ranked.indices.map(r => 1.0 / (r + 1)).toArray
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(r: SplittableRandom): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      ranked(math.min(ranked.length - 1, if (i >= 0) i else -i - 1))
    }
  }

  private val Syllables = IndexedSeq("ka", "lo", "mi", "nu", "pe", "ra", "si",
    "to", "ve", "zu", "ba", "de", "fo", "gi", "ho", "ju", "ly", "qua", "sto", "wen")

  /** `n` distinct pronounceable words (base-20 syllable numerals). */
  def vocabulary(n: Int): IndexedSeq[String] = (0 until n).map { i =>
    var x = i + Syllables.size
    val sb = new StringBuilder
    while (x > 0) { sb.insert(0, Syllables(x % Syllables.size)); x /= Syllables.size }
    sb.toString
  }

  final case class Corpus(docs: IndexedSeq[(Long, String)],
      planted: IndexedSeq[(Long, Long)], sharedLines: IndexedSeq[Int], zipf: Zipf)

  /** Multi-line documents of Zipf-distributed words. With probability
    * `dupRate` a document is a planted near-duplicate of one earlier
    * original (each original used at most once): all its lines are
    * copied and one token of one line is replaced.
    */
  def corpus(seed: Long, nDocs: Int, dupRate: Double, vocabSize: Int = 4000): Corpus = {
    val zipf = new Zipf(vocabulary(vocabSize))
    val r = new SplittableRandom(seed * 31 + 7)
    val docs = new Array[Array[String]](nDocs)
    val available = scala.collection.mutable.ArrayBuffer.empty[Int]
    val planted = IndexedSeq.newBuilder[(Long, Long)]
    val shared = IndexedSeq.newBuilder[Int]
    for (j <- 0 until nDocs) {
      if (available.nonEmpty && r.nextDouble() < dupRate) {
        val k = r.nextInt(available.size)
        val orig = available(k)
        available(k) = available.last
        available.remove(available.size - 1)
        val lines = docs(orig).clone()
        val li = r.nextInt(lines.length)
        val toks = lines(li).split(' ')
        val ti = r.nextInt(toks.length)
        var w = zipf.draw(r)
        while (w == toks(ti)) w = zipf.draw(r)
        toks(ti) = w
        lines(li) = toks.mkString(" ")
        docs(j) = lines
        planted += ((orig.toLong, j.toLong))
        shared += lines.indices.count(i => lines(i) == docs(orig)(i))
      } else {
        docs(j) = Array.fill(3 + r.nextInt(4)) {
          Array.fill(6 + r.nextInt(9))(zipf.draw(r)).mkString(" ")
        }
        available += j
      }
    }
    Corpus(docs.indices.map(i => (i.toLong, docs(i).mkString("\n"))),
      planted.result(), shared.result(), zipf)
  }

  def writeCorpus(spark: SparkSession, c: Corpus, path: String, files: Int): Unit = {
    import spark.implicits._
    c.docs.toDF("doc_id", "text").repartition(files, $"doc_id")
      .write.mode("overwrite").parquet(path)
  }

  // ----------------------------------------------------- relational tables

  /** TPC-H-shaped tables (the schemas of the engine's Layer-A inputs) at
    * scale factor `sf`, generated in Spark from hashes of the row key and
    * the seed. Money columns are exact 2-dp values, timestamps are
    * TIMESTAMP_NTZ, and customers with custkey % 3 == 0 place no orders
    * (as in TPC-H), so anti joins are non-empty.
    */
  def tpch(spark: SparkSession, dir: String, sf: Double, seed: Long, files: Int): Unit = {
    def u(salt: Int, m: Long, cols: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(m))
    def pick(salt: Int, values: Seq[String], cols: Column*): Column =
      element_at(array(values.map(lit): _*), (u(salt, values.size.toLong, cols: _*) + 1).cast("int"))
    def day(salt: Int, days: Long, cols: Column*): Column =
      timestamp_seconds(lit(694224000L) + u(salt, days, cols: _*) * 86400L)
        .cast("timestamp_ntz")
    def cents(salt: Int, lo: Long, span: Long, cols: Column*): Column =
      ((u(salt, span, cols: _*) + lo).cast("double") / 100.0)
    val nC = math.max(30L, (150000 * sf).toLong) / 3 * 3
    val nO = math.max(100L, (1500000 * sf).toLong)
    val nP = math.max(20L, (200000 * sf).toLong)
    val nS = math.max(10L, (10000 * sf).toLong)
    def save(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val id = col("id")
    import spark.implicits._
    save(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name").coalesce(1), "region")
    save((0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey").coalesce(1), "nation")
    save(spark.range(0, nC, 1, files).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(1, 25, id).cast("int").as("c_nationkey"),
      cents(2, 0, 1000000, id).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")), "customer")
    save(spark.range(0, nS, 1, files).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(4, 25, id).cast("int").as("s_nationkey"),
      cents(5, 0, 1000000, id).as("s_acctbal")), "supplier")
    save(spark.range(0, nP, 1, files).select(id.as("p_partkey"),
      concat(pick(6, Seq("large", "hot", "small", "frosted", "pale"), id), lit(" "),
        pick(7, Seq("ring", "bolt", "gear", "plate", "valve"), id)).as("p_name"),
      format_string("Brand#%d", u(8, 25, id) + 1).as("p_brand"),
      pick(9, Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"), id).as("p_type"),
      (u(10, 50, id) + 1).cast("int").as("p_size"),
      cents(11, 90000, 110000, id).as("p_retailprice")), "part")
    save(spark.range(0, nO, 1, files).select(id.as("o_orderkey"),
      (u(12, nC / 3, id) * 3 + 1 + u(13, 2, id)).as("o_custkey"),
      pick(14, Seq("F", "O", "P"), id).as("o_orderstatus"),
      cents(15, 100000, 50000000, id).as("o_totalprice"),
      day(16, 2400, id).as("o_orderdate"),
      pick(17, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority")), "orders")
    val ln = col("l_linenumber")
    val ok = col("l_orderkey")
    save(spark.range(0, nO, 1, files)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (u(18, 7, id) + 1).cast("int"))).as("l_linenumber"))
      .select(ok, u(19, nP, ok, ln).as("l_partkey"), u(20, nS, ok, ln).as("l_suppkey"), ln,
        (u(21, 50, ok, ln) + 1).cast("double").as("l_quantity"),
        cents(22, 90000, 10000000, ok, ln).as("l_extendedprice"),
        (u(23, 11, ok, ln).cast("double") / 100.0).as("l_discount"),
        (u(24, 9, ok, ln).cast("double") / 100.0).as("l_tax"),
        pick(25, Seq("R", "A", "N"), ok, ln).as("l_returnflag"),
        pick(26, Seq("O", "F"), ok, ln).as("l_linestatus"),
        day(27, 2550, ok, ln).as("l_shipdate")), "lineitem")
  }
}
