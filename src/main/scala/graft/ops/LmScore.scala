package graft.ops

import graft.kernel.TextKernel
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the CCNet/Pile-style
  * "perplexity filter": train a cheap bigram LM on a trusted reference
  * slice of the corpus, score every document by its average per-token
  * log-probability, and let the curation pipeline keep the head of the
  * distribution (fluent text scores high; gibberish, boilerplate soup
  * and OCR noise score low). The smoothing is Stupid Backoff (Brants
  * et al. 2007, "Large Language Models in Machine Translation") —
  * the scheme built FOR distributed count-based LMs: no normalization
  * pass, so the model stays two count tables.
  *
  * Score of a transition (prev → w), with counts from the reference:
  *   - bigram seen:  S = c(prev,w) / c(prev)
  *   - else:         S = alpha · (c(w) + 1) / (N + V)
  * (add-one-smoothed unigram backoff; OOV tokens take the same form
  * with c(w)=0, so every transition has a finite log score). Tokens
  * are [[TextKernel.tokens]] (lowercased, WsChars whitespace split) —
  * the same class every oracle re-derives. Documents with fewer than
  * two tokens have no transitions and are absent from the output (the
  * kernel family's documented short-doc convention).
  *
  * Scale design: the model is TABLES, not driver state — training is
  * two wordcount aggregates (unigrams, bigrams) over the reference
  * slice with map-side partial combine; N and V ride in one broadcast
  * 1-row aggregate, never a collect. Scoring is JOIN-shaped: corpus
  * transitions left-join the bigram and unigram tables on token keys.
  * The model is corpus-independent and usually small (Zipf), so a
  * caller that persists [[BigramModel.cache]] gets AQE-broadcast
  * joins — scoring then runs map-only with one final partial-combined
  * aggregate per doc (transitions of a doc are explode-contiguous, so
  * the partial aggregate collapses them before the shuffle). When the
  * reference slice is so large the bigram table outgrows broadcast,
  * the same plan degrades gracefully to shuffled hash joins on the
  * token keys — still linear, still skew-handled by AQE. Without
  * caching, Catalyst re-derives the model subtree per join (measured
  * 4× re-tokenization of the reference at 500k docs — SCALE.md);
  * the oracle-checked one-shot path accepts that, the throughput
  * path (x07) caches.
  */
object LmScore {

  /** [[TextKernel.tokens]] as a native column expression (same
    * whitespace class, same lowercasing) — codegen'd, no UDF.
    */
  private def toksCol(text: Column): Column = TextCols.toks(text)

  /** (prev, w) transition structs of a document, native form. */
  private def transCol(text: Column): Column = {
    val t = toksCol(text)
    val n1 = greatest(size(t) - 1, lit(0))
    arrays_zip(slice(t, lit(1), n1).as("prev"), slice(t, lit(2), n1).as("w"))
  }

  /** A trained Stupid-Backoff bigram model: `uni` (w, c1), `bigModel`
    * (prev, w, c2, c1_prev — the seen-branch denominator pre-folded,
    * a model-sized join), `stats` (1 row: n_tokens, vocab).
    */
  final case class BigramModel(uni: DataFrame, bigModel: DataFrame,
      stats: DataFrame) {
    /** Table sizes recorded by [[cache]]'s materializing counts, so
      * [[scoreAuto]]'s broadcast gate reuses them instead of running
      * two more count jobs per serving call (r15 — each job is a
      * driver round-trip on the serving wall).
      */
    @transient private[ops] var knownSizes: Option[(Long, Long)] = None

    /** Persist the model tables (they are model-sized, not
      * corpus-sized) and materialize them so every scoring join sees
      * accurate sizes — AQE then broadcasts what fits. Returns this.
      */
    def cache(): BigramModel = {
      uni.persist(); bigModel.persist(); stats.persist()
      val u = uni.count(); val b = bigModel.count(); stats.count()
      knownSizes = Some((u, b))
      this
    }
    def unpersist(): Unit = {
      uni.unpersist(); bigModel.unpersist(); stats.unpersist()
    }
  }

  /** Train the bigram count tables on the reference slice. */
  def trainStupidBackoff(refDocs: DataFrame, textCol: String): BigramModel = {
    val uni = refDocs
      .select(explode(toksCol(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val stats = uni.agg(sum(col("c1")).as("n_tokens"),
      count(lit(1)).as("vocab"))
    val big = refDocs
      .select(explode(transCol(col(textCol))).as("tr"))
      .groupBy(col("tr.prev").as("prev"), col("tr.w").as("w"))
      .agg(count(lit(1)).as("c2"))
    // a bigram seen in the reference implies prev is in the unigram
    // table, so this inner join loses nothing
    val bigModel = big.join(
      uni.select(col("w").as("prev"), col("c1").as("c1_prev")), "prev")
    BigramModel(uni, bigModel, stats)
  }

  /** Score every document against a trained model. Output:
    * (doc_id, n_trans, avg_logprob).
    */
  def scoreWithModel(docs: DataFrame, model: BigramModel, idCol: String,
      textCol: String, alpha: Double = 0.4): DataFrame = {
    val trans = docs.select(col(idCol).as("doc_id"),
        explode(transCol(col(textCol))).as("tr"))
      .select(col("doc_id"), col("tr.prev").as("prev"), col("tr.w").as("w"))
    trans
      .join(model.bigModel, Seq("prev", "w"), "left")
      .join(model.uni.select(col("w"), col("c1").as("c1_w")), Seq("w"), "left")
      .crossJoin(broadcast(model.stats))
      .withColumn("logp",
        when(col("c2").isNotNull,
          log10(col("c2").cast("double") / col("c1_prev")))
        .otherwise(log10(
          lit(alpha) * (coalesce(col("c1_w"), lit(0L)) + lit(1L)).cast("double")
            / (col("n_tokens") + col("vocab")))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trans"), avg(col("logp")).as("avg_logprob"))
  }

  /** Broadcast-model kernel scoring — the shape production perplexity
    * filters actually run (CCNet ships its KenLM model file to every
    * worker): the count tables are collected into hash maps,
    * broadcast, and each document is scored in ONE kernel pass —
    * no transition explode, no joins, no final aggregate; wall-time
    * is a single map stage over the corpus (probe at 500k docs:
    * 9.6 s join path → 3.4 s kernel). Only valid when the model fits
    * in executor memory — use [[scoreAuto]] for the size gate.
    * Arithmetic is identical to [[scoreWithModel]] (same IEEE ops per
    * transition; summation order differs only at the 1e-15 level the
    * 6dp compare ignores).
    */
  def scoreWithBroadcastModel(docs: DataFrame, model: BigramModel,
      idCol: String, textCol: String, alpha: Double = 0.4): DataFrame = {
    // r15 broadcast layout: the r14 form shipped a two-level
    // HashMap[String, HashMap[String, Array[Long]]] — Java-serializing
    // its ~800k boxed inner entries took 0.87 s per serving call at
    // the y07 bench point (LmPhaseProbe), more than the scoring stage
    // itself. The model now ships as ONE string→(c1, id) map (vocab
    // sized) plus three PRIMITIVE arrays for the bigrams: sorted
    // composite keys (prevId << 32 | wId — ids are unique per distinct
    // token, so the composite is collision-free by construction; no
    // joined-string ambiguity) and the (c2, c1_prev) columns.
    // Primitive arrays serialize as memcpy. Arithmetic is unchanged
    // op-for-op (same per-transition log10 terms, same left-to-right
    // summation), so scores are bit-identical — LmScoreSpec pins the
    // kernel against the join path.
    val uniRows = model.uni.collect()
    require(uniRows.length < Int.MaxValue / 2, "vocab exceeds id space")
    val uniMap = new java.util.HashMap[String, Array[Long]](uniRows.length * 2)
    var nextId = 0L
    uniRows.foreach { r =>
      uniMap.put(r.getString(0), Array(r.getLong(1), nextId)); nextId += 1L
    }
    val bigRows = model.bigModel.collect()
    // (key, c2, c1_prev) sorted by key. Every bigram token must be in
    // the unigram table (trainStupidBackoff output always is: both are
    // reference tokens); the join path would still score a bigram it
    // cannot key by id here, so a model without that coverage fails
    // loudly instead of scoring differently on the two paths
    val trips = new java.util.ArrayList[Array[Long]](bigRows.length)
    bigRows.foreach { r =>
      val p = uniMap.get(r.getString(0))
      val w = uniMap.get(r.getString(1))
      require(p != null && w != null,
        s"bigram (${r.getString(0)}, ${r.getString(1)}) has a token " +
          "missing from the unigram table")
      trips.add(Array((p(1) << 32) | w(1), r.getLong(2), r.getLong(3)))
    }
    trips.sort((x: Array[Long], y: Array[Long]) =>
      java.lang.Long.compare(x(0), y(0)))
    val n = trips.size()
    val keys = new Array[Long](n)
    val c2s = new Array[Long](n)
    val c1ps = new Array[Long](n)
    var j = 0
    while (j < n) {
      val t = trips.get(j); keys(j) = t(0); c2s(j) = t(1); c1ps(j) = t(2)
      j += 1
    }
    val Array(nTokens, vocab) = {
      val s = model.stats.collect()(0); Array(s.getLong(0), s.getLong(1))
    }
    val sess = docs.sparkSession
    val bcUni = sess.sparkContext.broadcast(uniMap)
    val bcKeys = sess.sparkContext.broadcast(keys)
    val bcC2 = sess.sparkContext.broadcast(c2s)
    val bcC1p = sess.sparkContext.broadcast(c1ps)
    val denom = (nTokens + vocab).toDouble
    val a = alpha
    val score = udf((text: String) => {
      val t = TextKernel.tokens(text)
      if (t.length < 2) null
      else {
        val uni = bcUni.value
        val ks = bcKeys.value
        val v2 = bcC2.value
        val v1p = bcC1p.value
        var sum = 0.0
        var prevE = uni.get(t(0))
        var i = 1
        while (i < t.length) {
          val curE = uni.get(t(i))
          var hit = -1
          if (prevE != null && curE != null)
            hit = java.util.Arrays.binarySearch(ks, (prevE(1) << 32) | curE(1))
          if (hit >= 0)
            sum += math.log10(v2(hit).toDouble / v1p(hit))
          else {
            val c1 = if (curE == null) 0L else curE(0)
            sum += math.log10(a * (c1 + 1L).toDouble / denom)
          }
          prevE = curE
          i += 1
        }
        (t.length - 1L, sum / (t.length - 1))
      }
    })
      // nondeterministic: the struct feeds a null filter plus two field
      // extractions — the optimizer otherwise pushes the filter below
      // the projection and re-evaluates the kernel per consumer
      // (guide §4.4)
      .asNondeterministic()
    docs.select(col(idCol).as("doc_id"), score(col(textCol)).as("r"))
      .filter(col("r").isNotNull)
      .select(col("doc_id"), col("r._1").as("n_trans"),
        col("r._2").as("avg_logprob"))
  }

  /** Size-gated scoring (the rype-classify precedent): kernel path
    * when the model is broadcast-safe, join path otherwise. The gate
    * reuses [[BigramModel.cache]]'s recorded sizes when present
    * (r15 — two fewer driver round-trips per serving call); uncached
    * models pay two model-sized counts, negligible next to scoring.
    */
  def scoreAuto(docs: DataFrame, model: BigramModel, idCol: String,
      textCol: String, alpha: Double = 0.4,
      maxBroadcastEntries: Long = 4L << 20): DataFrame = {
    val (u, b) = model.knownSizes
      .getOrElse((model.uni.count(), model.bigModel.count()))
    if (u + b <= maxBroadcastEntries)
      scoreWithBroadcastModel(docs, model, idCol, textCol, alpha)
    else scoreWithModel(docs, model, idCol, textCol, alpha)
  }

  /** One-shot convenience: train on `refDocs`, score `docs`. */
  def scoreStupidBackoff(
      docs: DataFrame,
      refDocs: DataFrame,
      idCol: String,
      textCol: String,
      alpha: Double = 0.4): DataFrame =
    scoreWithModel(docs, trainStupidBackoff(refDocs, textCol),
      idCol, textCol, alpha)
}
