package graftbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.AlignmentFlags
import graft.ops.{AlignOps, CorpusStats, Dedup, Retrieval, RypeOps, Woltka, Writers}

/** Layer-metric helpers shared by the workloads. */
object Probe {
  /** Median of three timed rounds of `body`, each run until it has taken
    * at least `minMs`, after an untimed round of at least `warmMs`;
    * returns (units per second, seconds per call). */
  def rate(units: Double, minMs: Double = 100, warmMs: Double = 0)(body: => Unit): (Double, Double) = {
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e6 < warmMs) body
    val rounds = (0 until 3).map { _ =>
      var n = 0
      val t0 = System.nanoTime()
      while (n == 0 || (System.nanoTime() - t0) / 1e6 < minMs) { body; n += 1 }
      (System.nanoTime() - t0) / 1e9 / n
    }
    val s = Stats.median(rounds)
    (units / s, s)
  }
}

/** The FASTQ source on a fixed sample (two 1,000-read files, the same on
  * every seed and workload) read into a noop sink. */
object SourceProbe {
  def run(h: Harness): Map[String, Double] = {
    val dir = h.dir("fastx_probe")
    Gen.reads(dir, 1, 4, 10000, 2, 1000)
    val bytes = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("sample")).map(_.length).sum
    val (_, readS) = Probe.rate(1) {
      h.spark.read.format("fastx").load(new File(dir, "sample*.fastq").getAbsolutePath)
        .write.format("noop").mode("overwrite").save()
    }
    h.rm(dir)
    Map("sources.fastx_read_s" -> readS, "sources.fastx_mb_per_s" -> bytes / 1e6 / readS)
  }
}

/** Direct single-thread kernel calls on a fixed sample (the same on
  * every seed and workload), reported as throughputs. Results feed
  * `sink` so the JIT cannot drop the calls. They run in a JVM of their
  * own under the default JIT (the workload JVM runs C1 only; see
  * bench/README.md), each after a one-second warm-up. */
object KernelProbes {
  import graft.kernel.{BamWriter, Rype, SamCodec, SeedAligner, TextKernel}

  @volatile var sink = 0.0
  private val WarmMs = 1000.0

  /** Usage: KernelProbes --out <file>; writes the metrics as one JSON object. */
  def main(args: Array[String]): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(args(args.indexOf("--out") + 1)), run())

  def run(): Map[String, Double] = {
    val genomes = graft.queries.LayerB.syntheticGenomes(4, 20000)
      .zipWithIndex.map { case (g, i) => (s"genome$i", g) }
    val rng = new java.util.SplittableRandom(1)
    val reads = (0 until 400).map { _ =>
      val g = genomes(rng.nextInt(genomes.size))._2
      val p = rng.nextInt(g.length - 150)
      g.substring(p, p + 150)
    }
    val index = SeedAligner.buildIndex(genomes, 21, 11)
    val (alignRate, _) = Probe.rate(reads.size, warmMs = WarmMs) {
      sink += reads.map(SeedAligner.align(index, _).size).sum
    }
    val salt = Rype.DefaultSalt
    val buckets = genomes.map { case (_, g) =>
      val (f, r) = Rype.extractMinimizerSet(g, 16, 5, salt); (f ++ r).toSet
    }
    val (rypeRate, _) = Probe.rate(reads.size, warmMs = WarmMs) {
      reads.foreach { r =>
        val (f, rc) = Rype.extractMinimizerSet(r, 16, 5, salt)
        sink += buckets.map(b => math.max(Rype.score(f, b), Rype.score(rc, b))).sum
      }
    }
    val recs = reads.zipWithIndex.map { case (_, i) =>
      SamCodec.SamRecord(s"read$i", 0, genomes(i % 4)._1, 1L + i * 37, 150L + i * 37, 60,
        "150=", "*", 0L, 0L, Some(-10L), None, None, None, None, None, None, Some(1L),
        None, Some("150"), None, None, None)
    }
    var bamBytes = 0L
    val (_, bamS) = Probe.rate(1, warmMs = WarmMs) {
      val out = new java.io.ByteArrayOutputStream()
      val w = new BamWriter(out, genomes.map { case (n, g) => (n, g.length.toLong) })
      recs.foreach(w.writeRecord)
      w.close()
      bamBytes = out.size()
    }
    val docs = Gen.corpus(1, 300, 0.0).docs.map(_._2)
    val (mhRate, _) = Probe.rate(docs.size, warmMs = WarmMs) {
      sink += docs.map(d => TextKernel.minhashSignature(TextKernel.sortedShingleHashes(d, 5), 64)(0)).sum
    }
    Map("kernel.align_reads_per_s" -> alignRate, "kernel.rype_reads_per_s" -> rypeRate,
      "kernel.bam_encode_mb_per_s" -> bamBytes / 1e6 / bamS,
      "kernel.minhash_docs_per_s" -> mhRate)
  }
}

/** The reference Quick Start on a seeded synthetic metagenome: per
  * sample, read_fastx -> minimap2-style alignment -> primary/mapq filter
  * -> woltka OGU counts -> BAM copy, plus rype classification of the
  * same reads. With `probe`, two samples only (see [[ReadsProbe]]). */
final class ReadsQuickstart(seed: Long, smoke: Boolean, probe: Boolean = false) extends Workload {
  val name = "reads_quickstart"
  val unit = "reads"
  val minIterations = 3
  private val (nGenomes, genomeLen, nSamples, perSample) =
    if (smoke) (4, 5000, 2, 300) else (6, 10000, if (probe) 2 else 6, 1000)
  /** Share of reads the aligner must place on their source genome. */
  private val MinAlignedFrac = 0.99
  private val K = 16
  private val W = 5
  private var repDir: File = _
  private var data: Gen.ReadSet = _
  private var indexPath: String = _
  private var aligned = 0L
  private var input = 0L

  def setup(h: Harness, rep: Int): Unit = {
    repDir = h.dir(s"reads_r$rep")
    data = h.op("generate")(Gen.reads(new File(repDir, "in"), seed,
      nGenomes, genomeLen, nSamples, perSample))
    indexPath = new File(repDir, "rype_index").getAbsolutePath
    h.op("rype_build") {
      val subjects = h.spark.read.format("fastx").load(data.refsFasta)
        .select(col("read_id").as("bucket_name"), col("sequence1"))
      RypeOps.saveIndex(RypeOps.buildIndex(subjects, K, W), indexPath)
    }
  }

  def warmup(h: Harness): Unit = pipeline(h, 0)._5.unpersist(blocking = false)

  def discard(h: Harness, rep: Int): Unit = h.rm(h.dir(s"reads_r$rep"))

  private val alnCols = Seq("read_id", "flags", "reference", "position", "mapq", "cigar")

  /** One sample through the pipeline. The filtered alignments stay
    * persisted for the checks; the caller unpersists them. */
  private def pipeline(h: Harness, i: Int)
      : (Gen.Sample, Long, Array[Row], Array[Row], DataFrame, String) = {
    val spark = h.spark
    val s = data.samples(i % data.samples.size)
    val refs = spark.read.format("fastx").load(data.refsFasta).select("read_id", "sequence1")
    val reads = spark.read.format("fastx").load(s.path).select("read_id", "sequence1")
    val (aln, n) = h.op("align") {
      val a = AlignOps.alignMinimap2(reads, refs)
        .filter(AlignmentFlags.alignmentIsPrimary(col("flags")) && col("mapq") >= 30)
        .withColumn("sample_id", lit(s.name))
        .persist(StorageLevel.MEMORY_ONLY)
      (a, a.count())
    }
    val counts = h.op("woltka")(Woltka.woltkaOguPerSample(aln, "sample_id", "read_id").collect())
    val bam = new File(repDir, s"${s.name}.bam").getAbsolutePath
    h.op("copy_bam")(Writers.copyBam(aln, bam))
    val rype = h.op("rype") {
      RypeOps.rypeClassify(RypeOps.loadIndex(spark, indexPath), reads, K, W, threshold = 0.1)
        .select("read_id", "bucket_name", "score").collect()
    }
    (s, n, counts, rype, aln, bam)
  }

  /** Checks one sample against the generator's truth. The reads carry
    * substitutions, so the aligner may leave a few unplaced: every placed
    * read must sit on its source genome, at least [[MinAlignedFrac]] of
    * the reads must be placed, and woltka must count exactly the placed
    * reads per genome. */
  private def verify(h: Harness, s: Gen.Sample, counts: Array[Row], rype: Array[Row],
      aln: DataFrame): Unit = {
    val placed = aln.select("read_id", "reference").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val misplaced = placed.count { case (id, ref) => !s.truth.get(id).contains(ref) }
    h.check(s"${s.name} alignments on their source genome", misplaced == 0,
      s"$misplaced of ${placed.size} placed reads on another genome")
    h.check(s"${s.name} aligned fraction", placed.size >= MinAlignedFrac * s.nReads,
      s"${placed.size} of ${s.nReads} reads placed")
    val got = counts.map(r => r.getAs[String]("feature_id") -> r.getAs[Double]("value")).toMap
    val want = placed.keys.toSeq.groupBy(s.truth).map { case (g, ids) => g -> ids.size.toDouble }
    h.check(s"${s.name} woltka counts", got == want, s"got $got want $want")
    val best = rype.groupBy(_.getString(0)).map { case (id, rs) =>
      id -> rs.maxBy(r => (r.getDouble(2), r.getString(1))).getString(1)
    }
    val wrong = s.truth.count { case (id, g) => !best.get(id).contains(g) }
    h.check(s"${s.name} rype buckets", wrong == 0, s"$wrong of ${s.nReads} reads misassigned")
  }

  def iteration(h: Harness, index: Int, traced: Boolean): Unit =
    h.iteration(index, if (probe) "probe_sample" else "sample", traced) {
      val (s, n, counts, rype, aln, _) = pipeline(h, index)
      aligned += n; input += s.nReads
      (s.nReads.toDouble, () =>
        try verify(h, s, counts, rype, aln) finally aln.unpersist(blocking = false))
    }

  def check(h: Harness): Unit = {
    val (s, _, counts, rype, aln, bam) = pipeline(h, 0)
    verify(h, s, counts, rype, aln)
    val want = aln.select(alnCols.map(col): _*)
    val back = h.spark.read.format("alignments").load(bam).select(alnCols.map(col): _*)
    val missing = want.exceptAll(back).count()
    val extra = back.exceptAll(want).count()
    h.check(s"${s.name} BAM round trip", missing == 0 && extra == 0,
      s"$missing rows missing from the BAM, $extra extra")
    aln.unpersist()
  }

  def named(h: Harness, untraced: Seq[IterRec]): Seq[(String, Double, String)] =
    Seq(("reads_per_s", untraced.map(_.units).sum / (untraced.map(_.wallMs).sum / 1000), "reads/s"))

  def probes(h: Harness, traced: Seq[IterRec]): Map[String, Double] =
    Map("ops.aligned_frac" -> aligned.toDouble / math.max(1L, input))
}

/** The reads pipeline on a fixed sample (seed 1, two 1,000-read samples,
  * the same on every seed and workload) for the traced runs of the other
  * workloads, so their records carry the ops layer of align, rype, woltka
  * and copy_bam too: one set-up, one untimed pass, then two traced
  * passes, each checked like a reads_quickstart iteration. Returns the
  * traced passes and their per-op metrics. */
object ReadsProbe {
  private val Rep = 99

  def run(h: Harness, smoke: Boolean): (Seq[IterRec], Map[String, Double]) = {
    val w = new ReadsQuickstart(1, smoke, probe = true)
    w.setup(h, Rep)
    w.warmup(h)
    val first = h.iters.size
    (0 until 2).foreach(i => w.iteration(h, i, traced = true))
    h.tracer.foreach(_.drain())
    w.discard(h, Rep)
    val iters = h.iters.drop(first).toSeq
    (iters, Layers.perOp(h, iters) ++ w.probes(h, iters))
  }
}

/** sf0.1-style `documents` corpus with planted near-duplicates through
  * the curation dedup chain: MinHash LSH pairs, winnowing pairs,
  * line-level dedup and the duplicated-span fraction. */
final class CorpusDedup(seed: Long, smoke: Boolean) extends Workload {
  val name = "corpus_dedup"
  val unit = "docs"
  /** Two chains after two warm-up chains: the C2 JIT still sped each
    * chain up by 10-15% over the first four, and the run budget has room
    * for four. */
  val minIterations = 2
  private val nDocs = if (smoke) 600 else 8000
  private val DupRate = 0.05
  private var corpus: Gen.Corpus = _
  private var path: String = _
  private var recall = Double.NaN

  def setup(h: Harness, rep: Int): Unit = {
    path = new File(h.dir(s"corpus_r$rep"), "documents.parquet").getAbsolutePath
    corpus = h.op("generate") {
      val c = Gen.corpus(seed, nDocs, DupRate)
      Gen.writeCorpus(h.spark, c, path, h.cores)
      c
    }
  }

  def warmup(h: Harness): Unit = { chain(h, path); chain(h, path) }

  def discard(h: Harness, rep: Int): Unit = h.rm(h.dir(s"corpus_r$rep"))

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  private def chain(h: Harness, path: String): (Set[(Long, Long)], Set[(Long, Long)]) = {
    val spark = h.spark
    val docs = spark.read.parquet(path)
    val mh = h.op("minhash")(pairs(Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 5, numHashes = 64, bands = 16, threshold = 0.4).select("id_a", "id_b").collect()))
    val wn = h.op("winnow") {
      val p = pairs(Dedup.winnowSimilarityPairs(docs, "doc_id", "text",
        k = 8, w = 4, minShared = 2, maxDf = 8, exactHash = false).select("id_a", "id_b").collect())
      // the op persists its fingerprint set; long-lived sessions release it per batch
      spark.catalog.clearCache()
      p
    }
    h.op("line_dedup")(CorpusStats.dedupLines(docs, "doc_id", "text", minDocs = 2)
      .write.format("noop").mode("overwrite").save())
    h.op("dup_spans")(CorpusStats.dupChunkFraction(docs, "doc_id", "text",
      chunkTokens = 5, minDocs = 2, exactHash = false).write.format("noop").mode("overwrite").save())
    (mh, wn)
  }

  def iteration(h: Harness, index: Int, traced: Boolean): Unit =
    h.iteration(index, "chain", traced) {
      val (mh, wn) = chain(h, path)
      (nDocs.toDouble, () => {
        val planted = corpus.planted.toSet
        val missed = planted -- wn
        h.check("winnow finds every planted pair", missed.isEmpty,
          s"${missed.size} of ${planted.size} planted pairs missed: ${missed.take(5)}")
        recall = (planted intersect mh).size.toDouble / math.max(1, planted.size)
      })
    }

  def check(h: Harness): Unit = {
    val docs = h.spark.read.parquet(path)
    h.check("corpus has planted pairs", corpus.planted.nonEmpty, "no pair planted")
    val removed = h.op("line_dedup")(CorpusStats.dedupLines(docs, "doc_id", "text", minDocs = 2)
      .filter(col("n_removed") > 0).select("doc_id", "n_removed").collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val short = corpus.planted.zip(corpus.sharedLines).count { case ((a, b), n) =>
      removed.getOrElse(a, 0L) < n || removed.getOrElse(b, 0L) < n
    }
    h.check("line dedup removes every planted shared line", short == 0,
      s"$short planted pairs keep a shared line")
    val dup = h.op("dup_spans")(CorpusStats.dupChunkFraction(docs, "doc_id", "text",
      chunkTokens = 5, minDocs = 2, exactHash = false)
      .filter(col("n_dup_chunks") > 0).select("doc_id").collect()).map(_.getLong(0)).toSet
    val unflagged = corpus.planted.count { case (a, b) => !dup(a) || !dup(b) }
    h.check("dup spans flag every planted pair", unflagged == 0,
      s"$unflagged planted pairs without a duplicated chunk")
  }

  def named(h: Harness, untraced: Seq[IterRec]): Seq[(String, Double, String)] =
    Seq(("dedup_docs_per_s", untraced.map(_.units).sum / (untraced.map(_.wallMs).sum / 1000), "docs/s"),
      ("lsh_recall", recall, "ratio"))

  def probes(h: Harness, traced: Seq[IterRec]): Map[String, Double] =
    Map("ops.lsh_recall" -> recall)
}

/** One client in a closed loop: single-query BM25 top-20 serves over a
  * doc_id-bucketed index, interleaved with the Layer-A bench requests
  * and their bucketed twins. Results are collected to the driver. */
final class InteractiveServe(seed: Long, smoke: Boolean) extends Workload {
  val name = "interactive_serve"
  val unit = "requests"
  private val sf = if (smoke) 0.001 else 0.002
  private val nDocs = if (smoke) 400 else 1000
  private val TopK = 20
  private var tablesDir: String = _
  private var docsPath: String = _
  private var bm25Table: String = _
  private var corpus: Gen.Corpus = _
  private var bucketedBuildS = 0.0
  private var bm25BuildS = 0.0

  /** The Layer-A bench set (a01, a04, a06, a08, a11, a16, a19) and the
    * bucketed twins k06, k08, k16, k19. */
  private val sql: IndexedSeq[graft.QueryDef] =
    (graft.queries.LayerA1.queries.filter(_.bench) ++ graft.BucketedTables.queries
      .filter(q => Set("k06", "k08", "k16", "k19")(q.name.take(3)))).toIndexedSeq

  /** Requests per round: every SQL request once, in a seeded order, with
    * a BM25 serve before every sixth one. */
  private val RoundBm25 = 2
  /** Two rounds of about 5 s: a third did not fit the run budget. */
  val minIterations = 2

  /** The requests of round `i`: the same mix on every seed and round. */
  private def round(i: Int): Seq[Either[String, graft.QueryDef]] = {
    val order = new scala.util.Random(seed * 7919L + i).shuffle(sql.toList)
    order.zipWithIndex.flatMap { case (q, j) =>
      (if (j % 6 == 0) Seq(Left(bm25Query(i * RoundBm25 + j / 6))) else Nil) :+ Right(q)
    }
  }

  /** Query `n` of the seeded BM25 stream: 3 Zipf draws from the corpus
    * vocabulary. */
  private def bm25Query(n: Int): String = {
    val r = new java.util.SplittableRandom(seed * 1000003L + n)
    Seq.fill(3)(corpus.zipf.draw(r)).mkString(" ")
  }

  def setup(h: Harness, rep: Int): Unit = {
    val spark = h.spark
    val dir = h.dir(s"serve_r$rep")
    tablesDir = new File(dir, s"tpch_r$rep").getAbsolutePath
    docsPath = new File(dir, "documents.parquet").getAbsolutePath
    bm25Table = s"bm25_r$rep"
    h.op("generate") {
      Gen.tpch(spark, tablesDir, sf, seed, h.cores)
      corpus = Gen.corpus(seed, nDocs, 0.0)
      Gen.writeCorpus(spark, corpus, docsPath, h.cores)
    }
    bucketedBuildS = h.op("bucketed_build")(graft.BucketedTables.ensure(spark, tablesDir, h.cores))
    val t0 = h.nowMs()
    h.op("bm25_build")(Retrieval.ensureBm25BucketedIndex(spark, bm25Table,
      Retrieval.bm25Index(spark.read.parquet(docsPath), "doc_id", "text"), docBuckets = h.cores))
    bm25BuildS = (h.nowMs() - t0) / 1000
  }

  /** One round that the measurement does not repeat. */
  def warmup(h: Harness): Unit = round(-1).foreach(serve(h, _))

  def discard(h: Harness, rep: Int): Unit = {
    Seq(s"bm25_r$rep", s"bm25_r${rep}_df", s"bm25_r${rep}_stats").foreach(t =>
      h.spark.sql(s"DROP TABLE IF EXISTS $t"))
    val tag = s"tpch_r$rep"
    Seq("lineitem", "orders", "orders_ck").foreach(t =>
      h.spark.sql(s"DROP TABLE IF EXISTS bk_${tag}_$t"))
    h.rm(h.dir(s"serve_r$rep"))
  }

  private def serve(h: Harness, r: Either[String, graft.QueryDef]): Unit = r match {
    case Left(text) =>
      val spark = h.spark
      import spark.implicits._
      h.op("bm25_serve")(Retrieval.bm25TopKFromBucketedIndex(spark, bm25Table,
        Seq((0L, text)).toDF("query_id", "query_text"), k = TopK).collect())
    case Right(q) =>
      h.op("sql", s"sql:${q.name}")(q.impl(h.spark, tablesDir).collect())
  }

  def iteration(h: Harness, index: Int, traced: Boolean): Unit = {
    val requests = round(index)
    h.iteration(index, "round", traced) {
      requests.foreach(serve(h, _))
      (requests.size.toDouble, () => ())
    }
  }

  private var pending: Map[String, Any] = Map.empty
  override def record: Map[String, Any] = pending

  def check(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    // bucketed serving equals flat one-shot BM25 on a seeded query sample
    val sample = (0 until 3).map(bm25Query)
    val queries = sample.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("query_id", "query_text")
    def rows(df: DataFrame) = df.select("query_id", "doc_id", "rank", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(t => (t._1, t._3))
    val bucketed = rows(h.op("bm25_serve")(
      Retrieval.bm25TopKFromBucketedIndex(spark, bm25Table, queries, k = TopK)))
    val flat = rows(h.op("bm25_flat")(
      Retrieval.bm25TopK(spark.read.parquet(docsPath), "doc_id", "text", queries, TopK)))
    val same = bucketed.length == flat.length && bucketed.zip(flat).forall { case (a, b) =>
      a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && math.abs(a._4 - b._4) <= 1e-9 * math.max(1.0, math.abs(b._4))
    }
    h.check("bucketed BM25 equals flat BM25", same && flat.nonEmpty,
      s"${bucketed.length} vs ${flat.length} rows; first diff " +
        bucketed.zip(flat).find { case (a, b) => a != b })
    // SQL results go to parquet; the caller compares them with DuckDB
    val out = h.dir("sql_results")
    val oracles = graft.SparkEntry.oracleSql
    val entries = sql.map { q =>
      h.op("sql", s"sql:${q.name}")(q.impl(spark, tablesDir).write.mode("overwrite")
        .parquet(new File(out, q.name).getAbsolutePath))
      val twin = if (q.name.startsWith("k")) graft.queries.LayerA1.queries
        .find(_.name.take(3) == "a" + q.name.slice(1, 3)).map(_.name) else None
      Map("name" -> q.name, "oracle" -> oracles.get(q.name), "twin_of" -> twin)
    }
    pending = Map("sql_checks" -> Map("tables_dir" -> tablesDir,
      "results_dir" -> out.getAbsolutePath, "queries" -> entries))
  }

  /** Request latencies are the op spans of the untraced rounds. */
  def named(h: Harness, untraced: Seq[IterRec]): Seq[(String, Double, String)] = {
    val ids = untraced.map(_.id).toSet
    val reqs = h.spans.filter(s => ids(s.parent)).toSeq
    def ms(p: OpSpan => Boolean) = reqs.filter(p).map(_.wallS * 1000)
    Seq(("bm25_p50_ms", Stats.median(ms(_.name == "bm25_serve")), "ms"),
      ("sql_p50_ms", Stats.median(ms(_.name == "sql")), "ms"),
      ("serve_p90_ms", Stats.quantile(ms(_ => true), 0.9), "ms"),
      ("requests", reqs.size.toDouble, "count"))
  }

  def probes(h: Harness, traced: Seq[IterRec]): Map[String, Double] = {
    val ids = traced.map(_.id).toSet
    val ops = h.spans.filter(s => ids(s.parent)).toSeq
    def p50(p: OpSpan => Boolean) = Stats.median(ops.filter(p).map(_.wallS * 1000))
    val bm25Ops = ops.filter(_.name == "bm25_serve")
    val inputMb = bm25Ops.flatMap(s => h.tracer.flatMap(_.counted(s.id))).map(_.input).sum / 1e6
    Map("plans.window_ms" -> p50(s => Set("sql:a16", "sql:a19", "sql:k16", "sql:k19")(s.kind.take(7))),
      "bucketed.sql_ms" -> p50(_.kind.startsWith("sql:k")),
      "bucketed.build_s" -> bucketedBuildS,
      "ops.bm25_build_s" -> bm25BuildS,
      "ops.bm25_input_mb_per_query" -> inputMb / math.max(1, bm25Ops.size))
  }
}
