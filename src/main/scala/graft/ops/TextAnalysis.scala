package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.IndexCommit

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token counting, fingerprinting. All codegen'd built-ins — no
  * UDFs — so they run at scan speed over 100 TB and push through Catalyst.
  */
object TextAnalysis {
  import org.apache.spark.sql.GraftShim
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
  import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}
  import org.apache.spark.unsafe.types.UTF8String

  /** Longest run of byte-identical positions between two same-length
    * strings, as struct(len, start) with the LEFTMOST maximal run (strict >
    * while scanning). A codegen'd expression because no built-in expresses a
    * per-row character scan without an explode (row blowup + shuffle) or a
    * higher-order-function fold (interpreted lambda per character — measured
    * 3x slower than the explode it replaced). Byte comparison == character
    * comparison for ASCII corpora (the curation corpus); documented limit.
    */
  case class LongestIdentityRun(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("len", IntegerType, nullable = false),
      StructField("start", IntegerType, nullable = false)))
    override def prettyName: String = "longest_identity_run"
    private def run(a: Array[Byte], b: Array[Byte]): (Int, Int) = {
      val n = math.min(a.length, b.length)
      var bestLen = 0; var bestStart = 0; var curLen = 0; var curStart = 0
      var i = 0
      while (i < n) {
        if (a(i) == b(i)) {
          if (curLen == 0) curStart = i
          curLen += 1
          if (curLen > bestLen) { bestLen = curLen; bestStart = curStart }
        } else curLen = 0
        i += 1
      }
      (bestLen, bestStart)
    }
    override protected def nullSafeEval(l: Any, r: Any): Any = {
      val (len, start) = run(l.asInstanceOf[UTF8String].getBytes,
        r.asInstanceOf[UTF8String].getBytes)
      org.apache.spark.sql.catalyst.InternalRow(len, start)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val a = ctx.freshName("lirA")
        val b = ctx.freshName("lirB")
        val n = ctx.freshName("lirN")
        val bestLen = ctx.freshName("lirBestLen")
        val bestStart = ctx.freshName("lirBestStart")
        val curLen = ctx.freshName("lirCurLen")
        val curStart = ctx.freshName("lirCurStart")
        val i = ctx.freshName("lirI")
        s"""
        byte[] $a = $l.getBytes();
        byte[] $b = $r.getBytes();
        int $n = java.lang.Math.min($a.length, $b.length);
        int $bestLen = 0; int $bestStart = 0; int $curLen = 0; int $curStart = 0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a[$i] == $b[$i]) {
            if ($curLen == 0) { $curStart = $i; }
            $curLen++;
            if ($curLen > $bestLen) { $bestLen = $curLen; $bestStart = $curStart; }
          } else { $curLen = 0; }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          new Object[] { $bestLen, $bestStart });
        """
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** struct(len, start) of the longest identical run of two aligned strings. */
  def longestIdentityRun(a: Column, b: Column): Column =
    GraftShim.column(LongestIdentityRun(GraftShim.expression(a), GraftShim.expression(b)))

  /** Stopword-marker language ID: per-language marker hit counts over the
    * token set, argmax with deterministic tie order. A real system swaps the
    * marker table for character-n-gram profiles; the operator shape (score
    * per class -> argmax) is identical.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  def langId(textCol: Column): Column = {
    val toks = split(lower(textCol), "\\s+")
    val scores = LangMarkers.map { case (lang, markers) =>
      val s = markers.map(m => size(filter(toks, t => t === m)))
        .reduce(_ + _)
      struct(s.as("score"), lit(lang).as("lang"))
    }
    // argmax by score, ties -> marker-table order (greatest picks the last
    // max, so order descending priority by reversing)
    val best = scores.reduce((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Quality features + a composite score in [0,1]:
    * length, token stats, stopword ratio, uppercase/punct ratios.
    */
  /** Whitespace token array + stopword-hit count of one text column —
    * the quality gate's two load-bearing expressions, shared by
    * [[qualityFeatures]] and the inline gate predicate
    * ([[graft.ops.Curate]]) so the two can never drift. ONE filter pass
    * with a set-membership test: the per-stopword filters are mutually
    * exclusive (a token lowers to at most one of them), so the sum of
    * their counts equals the single membership count — same value, 1
    * array traversal instead of |stopwords|.
    */
  private[ops] def wsToks(t: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = split(t, "\\s+")
  private[ops] def stopHitsOf(toks: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val stop = Seq("the", "a", "of", "and", "is", "to", "in")
    size(filter(toks, x => lower(x).isInCollection(stop)))
  }

  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = wsToks(t)
    val stopHits = stopHitsOf(toks)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      size(toks).as("n_tokens"),
      (length(t).cast("double") / size(toks)).as("mean_tok_len"),
      (stopHits.cast("double") / size(toks)).as("stopword_ratio"),
      (length(regexp_replace(t, "[^.!?,;]", "")).cast("double") / length(t))
        .as("punct_ratio"),
      (length(regexp_replace(t, "[^A-Z]", "")).cast("double") / length(t))
        .as("upper_ratio"))
      .withColumn("quality",
        least(lit(1.0), col("n_tokens") / lit(50.0)) * 0.5
          + least(lit(1.0), col("stopword_ratio") * 5) * 0.3
          + (lit(1.0) - least(lit(1.0), col("punct_ratio") * 10)) * 0.2)
  }

  /** Token counts: whitespace tokens and a BPE-ish segmentation (letter
    * runs, digit runs, single other chars) — the usual pre-tokenizer
    * estimate for LLM token budgeting.
    */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      size(split(trim(col(textCol)), "\\s+")).as("ws_tokens"),
      size(regexp_extract_all(col(textCol),
        lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0))).as("bpe_ish_tokens"))

  /** Fixed-size overlapping token chunking — the RAG/embedding-prep
    * segmenter: each document splits into windows of `chunkSize` whitespace
    * tokens starting every `stride` tokens (stride < chunkSize ⇒ adjacent
    * chunks overlap by chunkSize − stride tokens, the usual
    * context-preservation trick). A chunk starts at every offset
    * 0, stride, 2·stride, … strictly below the token count, so the final
    * chunk may be short but no token is ever dropped and an empty doc
    * yields no chunks. Entirely ROW-LOCAL — sequence + transform +
    * explode, zero shuffle, scan speed; the per-doc fan-out is
    * ceil(n_tokens/stride), bounded by the doc's own length (never a
    * corpus-scale blowup — the 100 TB cost is the output's size, which is
    * the caller's chunking choice).
    *
    * Output: (id, chunk_id, chunk, n_tokens) with chunk_id 0-based in
    * document order and n_tokens the chunk's own token count.
    */
  def chunkOverlap(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(stride >= 1 && stride <= chunkSize,
      s"stride must be in [1, chunkSize], got $stride")
    df.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("_w"))
      .withColumn("_w", filter(col("_w"), t => length(t) > 0))
      .filter(size(col("_w")) > 0)
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          ceil(size(col("_w")).cast("double") / stride).cast("int") - 1)))
      .select(col("id"), col("chunk_id"),
        concat_ws(" ",
          slice(col("_w"), col("chunk_id") * stride + 1, lit(chunkSize)))
          .as("chunk"),
        least(lit(chunkSize),
          size(col("_w")) - col("chunk_id") * stride).cast("long")
          .as("n_tokens"))
  }

  /** Unigram-LM perplexity scoring (the CCNet-style quality proxy, with
    * the corpus itself as the LM): per-doc average negative log of each
    * token's corpus MLE probability, exponentiated. Low perplexity =
    * ordinary, fluent text; high = rare-token soup (OCR noise, spam,
    * wrong-language fragments). A real deployment swaps the count table
    * for a trained KenLM — the Spark shape is identical.
    *
    * Scale: one shuffle for the vocab counts, one hash join tokens->counts
    * (vocab ~ 1e8 rows at 100 TB — a plain shuffled join, no broadcast),
    * one per-doc aggregation; the corpus total joins in as a broadcast
    * 1-row table. Output: (id, n_tokens, ppl).
    */
  def lmPerplexity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    val total = counts.agg(sum(col("tf")).as("n"))
    tok
      .join(counts, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log(col("tf") / col("n"))).as("nll"))
      .select(col("id"), col("n_tokens"), exp(col("nll")).as("ppl"))
  }

  /** Interpolated bigram LM perplexity — the step from [[lmPerplexity]]'s
    * unigram model toward the KenLM n-gram filter CCNet actually deploys:
    * p(w|v) = lambda * c(vw)/c(v) + (1-lambda) * c(w)/N (Jelinek-Mercer
    * interpolation; the unigram floor means unseen bigrams are priced,
    * never zero), first token scored by the unigram model. Corpus-as-LM
    * self-scoring like lmPerplexity; swap the count tables for an
    * external reference corpus to get the CCNet train-on-wiki shape.
    *
    * Scale shape: bigrams built row-locally (zip_with), ONE corpus-scale
    * count per gram order with map-side combine, then the scoring join —
    * bigram rows against the bigram count table — hash-distributed on the
    * gram key (skew-free: frequency skew is absorbed by the partial
    * aggregation, and the scoring join key space is the DISTINCT gram
    * set). Unigram tables broadcast; N is a 1-row broadcast.
    */
  def lmPerplexityInterp(df: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val a0 = filter(split(trim(col(textCol)), "\\s+"), x => length(x) > 0)
    val base = df.select(col(idCol).as("id"), a0.as("a"))
      .filter(size(col("a")) > 0)
    val uni = base.select(explode(col("a")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("uf"))
    val total = uni.agg(sum(col("uf")).as("n"))
    val nbi = greatest(size(col("a")) - 1, lit(0))
    val bi = base.select(col("id"),
      explode(zip_with(
        slice(col("a"), lit(1), nbi), slice(col("a"), lit(2), nbi),
        (l, r) => struct(l.as("prev"), r.as("cur")))).as("p"))
      .select(col("id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bc = bi.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("bf"))
    val biScored = bi
      .join(bc, Seq("prev", "cur"))
      .join(broadcast(uni.select(col("tok").as("prev"), col("uf").as("pf"))),
        Seq("prev"))
      .join(broadcast(uni.select(col("tok").as("cur"), col("uf").as("cf"))),
        Seq("cur"))
      .crossJoin(broadcast(total))
      .select(col("id"),
        (-log(lit(lambda) * col("bf") / col("pf")
          + lit(1.0 - lambda) * col("cf") / col("n"))).as("nll"))
    val first = base.select(col("id"), element_at(col("a"), 1).as("tok"))
      .join(broadcast(uni), Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("id"), (-log(col("uf") / col("n"))).as("nll"))
    first.unionByName(biScored)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("nll")).as("nll"))
      .select(col("id"), col("n_tokens"), exp(col("nll")).as("ppl"))
  }

  /** Interpolated Kneser-Ney bigram perplexity (Kneser & Ney 1995; the
    * Chen & Goodman 1999 interpolated form with a fixed absolute
    * discount) — the smoothing KenLM actually ships, completing the LM
    * ladder unigram → Jelinek-Mercer ([[lmPerplexityInterp]]) → KN:
    *
    * {{{
    *   p(w|v)    = max(c(vw) − D, 0)/c(v) + D·N1+(v·)/c(v) · p_cont(w)
    *   p_cont(w) = N1+(·w) / |distinct bigram types|
    * }}}
    *
    * where `N1+(v·)` counts distinct continuations of v and `N1+(·w)`
    * distinct left-contexts of w — the "how many contexts has this word
    * appeared in" novelty measure that makes KN price "Francisco" low
    * despite its frequency. The first token scores under the
    * continuation distribution (the lower-order KN model), not raw
    * unigram frequency. The continuation distribution itself takes
    * add-one smoothing over the vocabulary —
    * `p_cont(w) = (N1+(·w) + 1)/(nt + |V|)` — so a word that never
    * occurs as a continuation (doc-initial-only words in self-scoring)
    * is priced, never zero/dropped. Corpus-as-LM self-scoring like its
    * siblings, so every observed bigram has c ≥ 1 and the discount is
    * the only higher-order mass-reshaper; swap the count tables for a
    * reference corpus to get the trained-filter shape.
    *
    * Scale shape: identical to [[lmPerplexityInterp]] — row-local
    * bigrams, ONE corpus count per gram order, and the scoring join
    * hash-distributed on the gram key. The three continuation tables
    * derive from the bigram-TYPE table (distinct grams — far smaller
    * than the occurrence stream) and broadcast alongside the unigrams.
    */
  def lmPerplexityKn(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount in (0,1), got $discount")
    val a0 = filter(split(trim(col(textCol)), "\\s+"), x => length(x) > 0)
    val base = df.select(col(idCol).as("id"), a0.as("a"))
      .filter(size(col("a")) > 0)
    val uni = base.select(explode(col("a")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("uf"))
    val nbi = greatest(size(col("a")) - 1, lit(0))
    val bi = base.select(col("id"),
      explode(zip_with(
        slice(col("a"), lit(1), nbi), slice(col("a"), lit(2), nbi),
        (l, r) => struct(l.as("prev"), r.as("cur")))).as("p"))
      .select(col("id"), col("p.prev").as("prev"), col("p.cur").as("cur"))
    val bc = bi.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("bf"))
    // bc is one row per TYPE, so the continuation counts are plain
    // count(*) aggregations over it — no countDistinct shuffle
    val fol = bc.groupBy(col("prev")).agg(count(lit(1)).as("fol"))
    val pre = bc.groupBy(col("cur")).agg(count(lit(1)).as("pre"))
    // nt = distinct bigram types, nv = vocabulary size: the two 1-row
    // smoothing denominators, broadcast like lmPerplexityInterp's total
    val types = bc.agg(count(lit(1)).as("nt"))
    val vocab = uni.agg(count(lit(1)).as("nv"))
    val d = lit(discount)
    val pcont = (coalesce(col("pre"), lit(0L)) + lit(1L)) /
      (col("nt") + col("nv"))
    val biScored = bi
      .join(bc, Seq("prev", "cur"))
      .join(broadcast(uni.select(col("tok").as("prev"), col("uf").as("pf"))),
        Seq("prev"))
      .join(broadcast(fol), Seq("prev"))
      .join(broadcast(pre), Seq("cur"), "left")
      .crossJoin(broadcast(types))
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        (-log(greatest(col("bf") - d, lit(0.0)) / col("pf")
          + d * col("fol") / col("pf") * pcont)).as("nll"))
    val first = base.select(col("id"), element_at(col("a"), 1).as("cur"))
      .join(broadcast(pre), Seq("cur"), "left")
      .crossJoin(broadcast(types))
      .crossJoin(broadcast(vocab))
      .select(col("id"), (-log(pcont)).as("nll"))
    first.unionByName(biScored)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("nll")).as("nll"))
      .select(col("id"), col("n_tokens"), exp(col("nll")).as("ppl"))
  }

  /** Gopher-style repetition stats (Rae et al. 2021 quality rules, token
    * flavor): per doc —
    *  - `dup_2gram_frac`: fraction of 2-gram occurrences beyond each
    *    gram's first (1 - distinct/total);
    *  - `top_2gram_frac`: tokens covered by the most frequent 2-gram over
    *    total tokens (only the max COUNT matters, so ties need no order);
    *  - `dup_5gram_token_frac`: fraction of TOKENS covered by 5-grams that
    *    occur at least twice in the doc (interval union of their [p, p+4]
    *    windows — the within-doc twin of [[Dedup.duplicateSpans]]).
    * The standard repetition gates a curation pipeline thresholds on
    * (Gopher drops docs with dup-5-gram coverage > 0.3 etc.).
    *
    * Scale: gram stats are per-doc hash aggregations; the coverage merge
    * is a window partitioned by doc — nothing crosses doc boundaries.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("id"),
      split(trim(col(textCol)), "\\s+").as("_w"))
      .withColumn("n_tokens", size(col("_w")).cast("long"))
    def gramRows(w: Int) = toks
      .withColumn("_i", explode(when(size(col("_w")) >= w,
        sequence(lit(0), size(col("_w")) - w)).otherwise(array())))
      .select(col("id"), col("_i").as("pos"), concat_ws(" ",
        (0 until w).map(j => element_at(col("_w"), col("_i") + j + 1)): _*)
        .as("g"))
    val g2 = gramRows(2).groupBy(col("id"), col("g"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(sum(col("c")).as("total2"), count(lit(1)).as("distinct2"),
        max(col("c")).as("max2"))
    // positions of within-doc duplicated 5-grams -> union of [p, p+4]
    val dupPos = gramRows(5).groupBy(col("id"), col("g"))
      .agg(collect_list(col("pos")).as("ps"))
      .filter(size(col("ps")) >= 2)
      .select(col("id"), explode(col("ps")).as("pos"))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prevW = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val cov = dupPos
      .withColumn("_maxPrevEnd", max(col("pos") + lit(4)).over(prevW))
      .withColumn("_new", when(col("_maxPrevEnd").isNull ||
        col("pos") > col("_maxPrevEnd"), lit(1)).otherwise(lit(0)))
      .withColumn("_span", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_span"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(4)).as("e"))
      .groupBy(col("id"))
      .agg(sum(col("e") - col("s") + 1).cast("long").as("dup_tokens"))
    toks.select(col("id"), col("n_tokens"))
      .join(g2, Seq("id"), "left")
      .join(cov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce((col("total2") - col("distinct2")) / col("total2"), lit(0.0))
          .as("dup_2gram_frac"),
        // overlapping occurrences ("spam spam spam") can exceed the token
        // count — cap at 1: "the whole doc is this gram"
        least(lit(1.0),
          coalesce(col("max2") * lit(2) / col("n_tokens"), lit(0.0)))
          .as("top_2gram_frac"),
        coalesce(col("dup_tokens") / col("n_tokens"), lit(0.0))
          .as("dup_5gram_token_frac"))
  }

  /** Content-defined fingerprint: md5 over the sorted distinct token set —
    * order-insensitive near-dup key (bag-of-words collision = same vocab).
    */
  def fingerprint(textCol: Column): Column =
    md5(array_join(array_sort(array_distinct(split(lower(textCol), "\\s+"))), " "))

  /** Winnowing fingerprints (the MOSS scheme): polynomial rolling hashes of
    * every k-character gram, then the (hash, pos)-minimum of each window of
    * `w` consecutive grams, deduplicated — the standard rolling-hash
    * document fingerprint whose guarantee is that any shared substring of
    * length >= k+w-1 contributes a shared fingerprint. Per-row O(len) via
    * a monotone deque; hash values are plain modular polynomials, so an
    * oracle can recompute each gram's hash directly (no rolling needed on
    * the SQL side — same residues).
    */
  case class RollingWinnow(child: Expression, k: Int, w: Int,
      base: Long, mod: Long)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      org.apache.spark.sql.types.ArrayType(StructType(Seq(
        StructField("pos", IntegerType, nullable = false),
        StructField("hash", org.apache.spark.sql.types.LongType, nullable = false))),
        containsNull = false)
    override def prettyName: String = "rolling_winnow"

    private lazy val topPow: Long = {
      var p = 1L
      (1 until k).foreach(_ => p = p * base % mod)
      p
    }

    override protected def nullSafeEval(input: Any): Any = {
      val s = input.asInstanceOf[UTF8String].getBytes
      val g = s.length - k + 1
      val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.catalyst.InternalRow]
      if (g > 0) {
        val hashes = new Array[Long](g)
        var h = 0L
        var i = 0
        while (i < s.length) {
          h = (h * base + (s(i) & 0xff)) % mod
          if (i >= k - 1) {
            hashes(i - k + 1) = h
            // roll: drop the leading character before the next append
            h = (h - (s(i - k + 1) & 0xff) * topPow % mod + mod) % mod
          }
          i += 1
        }
        // sliding-window minimum by (hash, pos) with a monotone deque
        val dq = new java.util.ArrayDeque[Int]()
        var lastPicked = -1
        i = 0
        while (i < g) {
          while (!dq.isEmpty && hashes(dq.peekLast()) > hashes(i)) dq.pollLast()
          dq.addLast(i)
          if (dq.peekFirst() <= i - w) dq.pollFirst()
          if (i >= w - 1) { // strict scheme: only full w-gram windows
            val m = dq.peekFirst()
            if (m != lastPicked) {
              out += org.apache.spark.sql.catalyst.InternalRow(m, hashes(m))
              lastPicked = m
            }
          }
          i += 1
        }
      }
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out.toArray)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  val WinnowBase = 257L
  val WinnowMod = 2147483647L // 2^31 - 1

  /** array<struct<pos, hash>> winnowing fingerprints of a text column. */
  def winnowFingerprints(textCol: Column, k: Int = 8, w: Int = 4): Column =
    GraftShim.column(RollingWinnow(GraftShim.expression(textCol), k, w,
      WinnowBase, WinnowMod))

  val UrlPattern = "https?://\\S+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** PII/URL scrubbing: count + remove URLs and email addresses, collapse
    * whitespace. Pure regexp built-ins (patterns chosen to behave
    * identically under Java regex and RE2) — scan-speed curation.
    */
  def scrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      size(regexp_extract_all(t, lit(UrlPattern), lit(0))).as("n_urls"),
      size(regexp_extract_all(t, lit(EmailPattern), lit(0))).as("n_emails"),
      trim(regexp_replace(regexp_replace(regexp_replace(t,
        UrlPattern, " "), EmailPattern, " "), "\\s+", " ")).as("clean_text"))
  }

  /** Deterministic per-row sampling decision: md5-derived uniform bucket in
    * [0, 100). Reproducible across engines and runs (unlike rand()-based
    * sampling) — the standard trick for stable training-mix sampling where
    * re-runs must pick the SAME rows.
    */
  def hashBucket(idCol: Column, buckets: Int = 100): Column =
    conv(substring(md5(idCol.cast("string")), 1, 15), 16, 10)
      .cast("long") % buckets

  /** Stratified deterministic sampling: keep a row when its hash bucket
    * falls under its stratum's percentage. `ratePct` is a per-row Column
    * (join a rate table or CASE on the stratum).
    */
  def sampleStratified(df: DataFrame, idCol: String,
      ratePct: Column): DataFrame =
    df.filter(hashBucket(col(idCol)) < ratePct)

  /** Corpus vocabulary with document frequency and idf = ln(N/df) — the
    * rarity table quality filters and tf-idf featurizers consume. Distinct
    * (doc, token) explode -> token groupBy: hash-distributed, no skew
    * (token frequency skew is absorbed by partial aggregation).
    */
  def idfTable(df: DataFrame, idCol: String, textCol: String,
      totalDocs: Long): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .distinct()
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .withColumn("idf", log(lit(totalDocs.toDouble) / col("df")))

  /** Feature-hashing vectorizer — the hashing trick (Weinberger et al.
    * 2009; sklearn HashingVectorizer / Vowpal Wabbit): token t
    * contributes sign(t) * tf to bucket h(t) % d, giving every document
    * a FIXED-dimension vector with no vocabulary table at all — the
    * zero-state text featurizer that feeds the cosine/ANN family (and
    * the LR classifier) when no trained embedding exists.
    *
    * Hash and sign are md5-derived (the RP-matrix convention) so the
    * oracle reproduces them: bucket = first-4-hex-digits value mod d
    * (Spark: codegen'd `conv(hex, 16, 10)`; DuckDB: strpos digit
    * arithmetic — different functions, identical math), sign = hex
    * digit 5 < '8'. The signed sum makes collisions unbiased (E[dot]
    * preserved — the trick's whole point).
    *
    * Scale shape: tokenize → one (doc, token) count agg → one (doc,
    * bucket) sum agg; everything map-side combinable, output d rows per
    * doc max. No vocabulary state, no broadcast, nothing to train.
    */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
      d: Int): DataFrame = {
    require(d >= 2 && d <= 65536, s"d=$d")
    val tf = df.select(col(idCol).as("doc_id"),
      explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    tf.withColumn("h", md5(col("token")))
      .withColumn("bucket",
        pmod(conv(substring(col("h"), 1, 4), 16, 10).cast("long"), lit(d)))
      .withColumn("sign",
        when(substring(col("h"), 5, 1) < "8", 1.0).otherwise(-1.0))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign") * col("tf")).as("w"))
  }

  /** [[hashEmbed]] assembled into a dense `Array[Double]` column of
    * length `d` (missing buckets zero-filled) — the shape the
    * Similarity/ANN family consumes. Pure native functions
    * (map_from_entries + sequence/transform), no UDF.
    */
  def hashEmbedVectors(df: DataFrame, idCol: String, textCol: String,
      d: Int): DataFrame =
    hashEmbed(df, idCol, textCol, d)
      .groupBy(col("doc_id"))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("w"))))
        .as("m"))
      .select(col("doc_id"),
        transform(sequence(lit(0L), lit(d - 1L)),
          i => coalesce(element_at(col("m"), i), lit(0.0))).as("embedding"))

  /** Sparse TF-IDF cosine "related documents": top-k neighbors per doc in
    * term space (the lexical complement of the embedding ANN family —
    * classic related-articles / more-like-this retrieval).
    *
    * The scale guard is `dfCap`: the pair join fans out df² PER TERM, so
    * one stopword at df = 10⁷ is a 10¹⁴-row join. Terms with df > dfCap
    * are dropped BEFORE the join — exactly the terms whose idf ≈ 0, so
    * they carry no ranking signal anyway (the LSH band-cap posture,
    * applied to sparse retrieval). Everything else is bucketed joins and
    * one (doc, doc) aggregation; ranking uses the rounded-cosine +
    * id tie-break so the cut is engine-stable.
    */
  def tfidfRelated(df: DataFrame, idCol: String, textCol: String,
      totalDocs: Long, k: Int, dfCap: Long): DataFrame = {
    // the tf postings are the materialization point: df/idf derive from
    // tf (one row per distinct (doc, token) — its row count IS the
    // document frequency), and the weighted postings feed three
    // consumers (norms + both join sides), so without the checkpoints
    // Catalyst would re-run tokenization up to four times (no subplan
    // sharing across DataFrame reuse — the q47 lesson)
    val tf = df.select(col(idCol).as("doc_id"),
      explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val idf = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap)
      .withColumn("idf", log(lit(totalDocs.toDouble) / col("df")))
    val w = tf.join(idf, Seq("token"))
      .select(col("doc_id"), col("token"),
        (col("tf") * col("idf")).as("w"))
      .localCheckpoint()
    // w (eager) has consumed tf's two reads — release tf now rather than
    // leak a block set per call; w itself is consumed lazily by the
    // returned frame, so its blocks are the ContextCleaner's to reclaim
    tf.unpersist()
    val nrm = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("n"))
    val dots = w.select(col("doc_id").as("a"), col("token"), col("w").as("wa"))
      .join(w.select(col("doc_id").as("b"), col("token"), col("w").as("wb")),
        Seq("token"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    val cosed = dots
      .join(nrm.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(nrm.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("cos", col("dot") / (col("na") * col("nb")))
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(round(col("cos"), 9).desc, col("b"))
    cosed.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("a").as("doc_id"), col("b").as("related_id"),
        col("cos"), col("rank"))
  }

  /** Per-group corpus length profile: doc count + exact interpolated
    * token-count percentiles — the telemetry table a curation run reports
    * per source/language before and after each filter stage. One hash
    * aggregation; exact `percentile` buffers each group's values, which is
    * right for bounded group sets (sources, languages) — switch to
    * `approx_percentile` if the group key is ever high-cardinality.
    */
  def lengthProfile(df: DataFrame, textCol: String, groupCol: String,
      percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 1),
      s"percentiles must be within [0,1], got $percentiles")
    // label from the full value, not (p*100).round — rounding mapped e.g.
    // 0.995 and 1.0 both to "p100" (duplicate output columns -> runtime
    // AnalysisException); stripping the decimal point keeps labels unique
    // for distinct inputs: 0.5 -> p0_5, 0.995 -> p0_995. Integer-percent
    // detection uses a tolerance, not == — 0.07*100 is 7.000000000000001
    // in doubles and exact equality would leak "p0_07" for it.
    def label(p: Double): String = {
      val h = p * 100
      if (math.abs(h - h.round) < 1e-9) s"p${h.round}"
      else s"p${p.toString.replace('.', '_')}"
    }
    val labels = percentiles.map(label)
    require(labels.distinct.size == labels.size,
      s"percentile labels collide: $percentiles -> $labels")
    val pCols = percentiles.zip(labels).map { case (p, l) =>
      expr(s"percentile(n_tokens, $p)").as(l)
    }
    df.select(col(groupCol),
      size(split(trim(col(textCol)), "\\s+")).cast("long").as("n_tokens"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), pCols: _*)
  }

  /** Vocabulary growth curve (Heaps-law telemetry): the corpus splits into
    * `nBuckets` id-range slices (ingestion order for monotonically
    * assigned ids) and each bucket reports docs, token occurrences, the
    * token TYPES first seen in it, and the cumulative vocabulary — the
    * "is the vocabulary saturating?" report that sizes tokenizers and
    * predicts dedup yield on the next crawl slice.
    *
    * Scale shape: one explode + one hash aggregation keyed by token (the
    * min-first-bucket per type), one by bucket; the cumulative sum runs
    * over nBuckets rows (a driver-scale window, not a corpus one). The
    * only scalar action is the max-id read.
    */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 10): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val maxRow = df.agg(max(col(idCol).cast("long"))).head()
    // empty corpus: max() is null — zero buckets to report
    val maxId = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
    val bucket = least(
      floor(col("_id").cast("double") * nBuckets / (maxId + 1.0)),
      lit(nBuckets - 1)).cast("int")
    val toks = df
      .select(col(idCol).cast("long").as("_id"),
        explode(split(lower(col(textCol)), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
      .withColumn("bucket", bucket)
    val perBucket = toks.groupBy(col("bucket"))
      .agg(countDistinct(col("_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"))
    val firstSeen = toks.groupBy(col("token"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("new_types"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBucket.join(firstSeen, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"), col("n_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
      // nBuckets rows total: the unpartitioned running-sum window is a
      // driver-scale frame, not a corpus move
      .withColumn("cum_vocab", sum(col("new_types")).over(w))
  }

  /** Word2vec-style phrase (collocation) detection — Mikolov et al. 2013
    * §4: score(a,b) = (count(ab) - delta) * N / (count(a) * count(b)).
    * Bigrams scoring far above 1 co-occur more than independence predicts
    * and become merge candidates ("new york" -> "new_york") before
    * embedding/tokenizer training.
    *
    * Scale shape: bigrams are built ROW-LOCALLY (zip_with over the token
    * array — no posexplode + window adjacency join), so the corpus is
    * scanned once and only (bigram, count) pairs shuffle, with map-side
    * combine. The unigram table is vocab-sized and broadcast to both
    * sides of the scoring join; N is a 1-row broadcast. No corpus-scale
    * join anywhere.
    */
  def phraseScores(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L, delta: Double = 5.0, topK: Int = 50): DataFrame = {
    val arr = filter(split(lower(col(textCol)), "\\s+"),
      x => length(x) > 0)
    val n = greatest(size(col("a")) - 1, lit(0))
    val bigrams = df.select(arr.as("a"))
      .select(explode(zip_with(
        slice(col("a"), lit(1), n),
        slice(col("a"), lit(2), n),
        (l, r) => struct(l.as("lhs"), r.as("rhs")))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(count(lit(1)).as("pair_cnt"))
    val uni = df.select(explode(arr).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = uni.agg(sum(col("c")).as("n_total"))
    bigrams
      .filter(col("pair_cnt") >= minCount)
      .join(broadcast(uni.select(col("tok").as("lhs"), col("c").as("c_lhs"))), Seq("lhs"))
      .join(broadcast(uni.select(col("tok").as("rhs"), col("c").as("c_rhs"))), Seq("rhs"))
      .crossJoin(broadcast(total))
      .select(col("lhs"), col("rhs"), col("pair_cnt"),
        ((col("pair_cnt") - lit(delta)) * col("n_total")
          / (col("c_lhs") * col("c_rhs"))).as("score"))
      .orderBy(col("score").desc, col("lhs"), col("rhs"))
      .limit(topK)
  }

  /** Collapse runs of consecutively-repeated tokens within each document —
    * the "the the the" / stutter-loop cleanup every crawl pipeline applies
    * before training. Returns (id, clean_text, n_removed).
    *
    * Scale shape: a PURE per-row expression — split, an indexed filter
    * lambda comparing each token to its predecessor (get() is 0-based and
    * null-safe, so position 0 compares against null and is always kept),
    * re-join. Zero shuffle, zero explode: this runs at scan speed and
    * pipelines into whatever operator follows it.
    */
  def collapseRuns(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val arr = split(col(textCol), " ")
    val kept = filter(arr, (x, i) => !(x <=> get(arr, i - 1)))
    df.select(col(idCol),
      array_join(kept, " ").as("clean_text"),
      (size(arr) - size(kept)).cast("long").as("n_removed"))
  }

  /** DSIR data selection (Xie et al. 2023, "Data Selection for Language
    * Models via Importance Resampling"), hashed-n-gram variant: estimate
    * target/source distributions over hashed unigram+bigram feature
    * buckets, weight every document by its summed log importance ratio,
    * and resample via deterministic Gumbel top-k (md5-derived uniforms, so
    * reruns and engines agree — the house hashBucket trick).
    *
    * Scale shape: ONE corpus-scale explode (unigrams + row-local zip_with
    * bigrams concatenated before the explode), ONE bucket aggregation
    * computing source and target counts together (map-side combined,
    * nBuckets output rows), the log-ratio table broadcast back, and one
    * per-doc sum. No corpus-scale join; the only shuffles are the two
    * aggregations. Distributions are Laplace-smoothed (alpha), so an empty
    * target degrades to uniform rather than dividing by zero. Documents
    * with zero features carry no weight and are not sampled (documented).
    */
  /** Hashed unigram+bigram feature buckets per doc: (_id, is_t, b), one
    * corpus-scale explode with the bigrams built row-locally first.
    */
  private def dsirFeatures(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val arr = filter(split(lower(col(textCol)), "\\s+"), x => length(x) > 0)
    val nbi = greatest(size(col("a")) - 1, lit(0))
    val bigrams = zip_with(
      slice(col("a"), lit(1), nbi), slice(col("a"), lit(2), nbi),
      (l, r) => concat_ws(" ", l, r))
    // widen: the unigram+bigram explode map side (graft.Par — no-op at
    // scale); this frame is evaluated twice (counts, then weights join)
    graft.Par.widen(df)
      .select(col(idCol).as("_id"), isTarget.as("is_t"), arr.as("a"))
      .select(col("_id"), col("is_t"),
        explode(concat(col("a"), bigrams)).as("f"))
      .select(col("_id"), col("is_t"), hashBucket(col("f"), nBuckets).as("b"))
  }

  /** Source + target feature counts per bucket, in ONE aggregation. */
  private def dsirCounts(feats: DataFrame): DataFrame =
    feats.groupBy(col("b")).agg(
      count(lit(1)).as("cs"),
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"))

  /** Smoothed log-importance-ratio per bucket from a (b, cs, ct) table. */
  private def dsirRatio(counts: DataFrame, nBuckets: Int,
      alpha: Double): DataFrame = {
    val ab = alpha * nBuckets
    val totals = counts.agg(sum(col("cs")).as("ts"), sum(col("ct")).as("tt"))
    counts.crossJoin(broadcast(totals))
      .select(col("b"),
        log(((col("ct") + lit(alpha)) / (col("tt") + lit(ab)))
          / ((col("cs") + lit(alpha)) / (col("ts") + lit(ab)))).as("lw"))
  }

  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 256,
      alpha: Double = 1.0): DataFrame = {
    val feats = dsirFeatures(df, idCol, textCol, isTarget, nBuckets)
    val ratio = dsirRatio(dsirCounts(feats), nBuckets, alpha)
    feats.join(broadcast(ratio), Seq("b"))
      .groupBy(col("_id"))
      // round before anything downstream: double sums are order-sensitive
      // in the last ulp, and the rounded value is the contract
      .agg(round(sum(col("lw")), 4).as("log_w"))
      .withColumnRenamed("_id", idCol)
  }

  /** Persist DSIR bucket distributions so a raw stream can be scored
    * against FIXED target/source estimates — the paper's deployment
    * shape (fit once on a reference corpus, score crawls forever):
    * `<path>/buckets` holds (b, cs, ct) delta rows (appends just add
    * rows; readers aggregate — at most nBuckets distinct keys, so the
    * read-side fold is O(buckets) regardless of append count) and
    * `<path>/meta` pins (n_buckets, alpha) the way the dedup index pins
    * its shingle params.
    */
  def buildDsirIndex(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, path: String, nBuckets: Int = 256,
      alpha: Double = 1.0): Unit =
    IndexCommit.commit(df.sparkSession, Seq(IndexCommit.Output(
      s"$path/buckets", IndexCommit.Replace,
      dsirCounts(dsirFeatures(df, idCol, textCol, isTarget, nBuckets))
        .write.mode("overwrite").parquet(_))),
      pin = Some(s"$path/meta" -> Seq("n_buckets" -> nBuckets, "alpha" -> alpha)))

  /** Fold one batch into the stored distributions: O(batch) — one
    * aggregation over the batch's features, appended as delta rows.
    */
  def appendToDsirIndex(batch: DataFrame, idCol: String, textCol: String,
      isTarget: Column, path: String): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    val meta = graft.sources.ManifestIO.readFirstRecord(conf, s"$path/meta")
      .getOrElse(throw new IllegalStateException(
        s"dsir index meta at $path/meta is unreadable or empty"))
    val nBuckets = meta.getInteger("n_buckets", 0)
    IndexCommit.commit(batch.sparkSession, Seq(IndexCommit.Output(
      s"$path/buckets", IndexCommit.Add,
      dsirCounts(dsirFeatures(batch, idCol, textCol, isTarget, nBuckets))
        .write.parquet(_))),
      IndexCommit.batchPin(conf, s"$path/meta"))
  }

  /** Score a batch against the STORED distributions: (id, log_w). The
    * stored table folds to ≤ nBuckets rows and broadcasts; features the
    * index never saw take the all-smoothing ratio ln((ts+aB)/(tt+aB))
    * (both counts 0), so out-of-vocabulary mass is priced, not dropped.
    * One batch-scale explode + one per-doc sum — no corpus term at all.
    */
  def scoreDsirIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val meta = graft.sources.ManifestIO.readFirstRecord(
      spark.sparkContext.hadoopConfiguration, s"$path/meta")
      .getOrElse(throw new IllegalStateException(
        s"dsir index meta at $path/meta is unreadable or empty"))
    val nBuckets = meta.getInteger("n_buckets", 0)
    val alpha = meta.getDouble("alpha", 0)
    val ab = alpha * nBuckets
    val stored = spark.read.parquet(s"$path/buckets")
      .groupBy(col("b"))
      .agg(sum(col("cs")).as("cs"), sum(col("ct")).as("ct"))
    val ratio = dsirRatio(stored, nBuckets, alpha)
    // bounded 1-row read: the totals feed the unseen-bucket default
    val t = stored.agg(sum(col("cs")), sum(col("ct"))).head()
    // empty index: sums are null -> pure-smoothing (uniform) scoring
    val ts = if (t.isNullAt(0)) 0L else t.getLong(0)
    val tt = if (t.isNullAt(1)) 0L else t.getLong(1)
    val defaultLw = math.log((ts + ab) / (tt + ab))
    dsirFeatures(batch, idCol, textCol, lit(false), nBuckets)
      .join(broadcast(ratio), Seq("b"), "left")
      .groupBy(col("_id"))
      .agg(round(sum(coalesce(col("lw"), lit(defaultLw))), 4).as("log_w"))
      .withColumnRenamed("_id", idCol)
  }

  /** Gumbel-top-k resampling over dsirWeights: score = log_w + Gumbel(0,1)
    * with the Gumbel noise derived deterministically from md5(id), i.e.
    * sampling-without-replacement proportional to exp(log_w), reproducible
    * across engines and reruns. Returns the selected top-k.
    */
  def dsirSelect(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, nBuckets: Int = 256, alpha: Double = 1.0,
      topK: Int = 60): DataFrame = {
    val u = (hashBucket(col(idCol), 1000000000).cast("double") + lit(0.5)) /
      lit(1000000000.0)
    dsirWeights(df, idCol, textCol, isTarget, nBuckets, alpha)
      .withColumn("score", round(col("log_w") + -log(-log(u)), 4))
      .orderBy(col("score").desc, col(idCol))
      .limit(topK)
  }

  /** BM25 relevance search: top-k docs for a bag-of-words query
    * (Robertson et al.; Lucene's always-positive idf form
    * ln(1 + (N - df + 0.5)/(df + 0.5))). The exploration/retrieval query a
    * corpus tool runs constantly ("show me the docs about X") expressed
    * fully relationally — no index structure needed, one corpus scan.
    *
    * Scale shape: tokens explode ONCE; the per-(doc, term) tf aggregation
    * filters to the query terms BEFORE its shuffle, so only matching
    * token rows (≈ corpus frequency of the query terms, not the corpus)
    * move; doc lengths ride a separate count aggregation joined back by
    * id; N, avgdl, and the per-term df table are 1-row/q-row broadcasts.
    * Absent terms contribute 0 (only matched (doc, term) rows score), and
    * the final top-k is TakeOrderedAndProject — no global sort
    * materialization. Ties break on doc id for determinism.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val tok = df.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val docLen = tok.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    val stats = docLen.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val qTok = tok.filter(col("tok").isin(queryTerms.map(_.toLowerCase): _*))
    val tf = qTok.groupBy(col("id"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    bm25Score(tf, dfreq, docLen, stats, k1, b, topK)
  }

  /** The BM25 scoring tail shared by [[bm25]] and [[searchBm25Indexed]] —
    * ONE definition of the Lucene-idf + saturation formula, so the
    * persisted index's scoring can never drift from the in-memory
    * operator's (the index oracle asserts bit-equality between them).
    * Inputs: tf(id, tok, tf), dfreq(tok, df), docLen(id, dl),
    * stats(n_docs, avgdl).
    */
  private def bm25Score(tf: DataFrame, dfreq: DataFrame, docLen: DataFrame,
      stats: DataFrame, k1: Double, b: Double, topK: Int): DataFrame =
    tf
      .join(broadcast(dfreq), Seq("tok"))
      .join(docLen, Seq("id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5))
          / (col("df") + lit(0.5))))
      .withColumn("term_score",
        col("idf") * (col("tf") * (k1 + 1))
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id"))
      .agg(sum(col("term_score")).as("score"),
        count(lit(1)).as("n_matched"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)

  /** Driver-side twin of [[hashBucket]] — the same md5-prefix bucket for a
    * known string, computed without a Spark job (used to turn query terms
    * into partition-pruning literals).
    */
  private[ops] def hashBucketOf(s: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (BigInt(d.substring(0, 15), 16) % buckets).toInt
  }

  /** Build a persisted BM25 inverted index — the search-engine shape of
    * [[bm25]]: tokenize the corpus ONCE, store the postings (token → (doc,
    * tf)) partitioned by a token hash bucket, plus doc lengths and
    * additive corpus stats. A query then reads ONLY the partitions its
    * terms hash into (directory pruning from driver-computed literals) —
    * per-query cost scales with the query terms' posting lists, never the
    * corpus.
    *
    * Layout: `postings/tb=<b>` (tok, id, tf), `doclens` (id, dl), `stats`
    * (n_docs, sum_dl — DELTA rows, folded by sum on read, so appends
    * never rewrite), `meta` (pinned bucket count). Document frequency is
    * NOT stored: a search reads its terms' full posting lists anyway, so
    * df falls out of a count over what was already fetched — one less
    * table to keep consistent under appends.
    *
    * Build and append publish postings, then doclens, then stats: a doc
    * counted in doclens/stats always has its postings.
    */
  def buildBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 256): Unit = {
    val base = path.stripSuffix("/")
    IndexCommit.commit(df.sparkSession,
      bm25Outputs(df, idCol, textCol, base, nBuckets, IndexCommit.Replace),
      pin = Some(s"$base/meta" -> Seq("n_buckets" -> nBuckets)))
  }

  /** Fold a new document batch into a [[buildBm25Index]] index: postings
    * and doc lengths append under the pinned bucket layout, and the
    * corpus stats land as one more delta row — O(batch), nothing
    * rewritten. Doc ids must be new (the disjoint-batch contract every
    * persisted index here shares).
    */
  def appendToBm25Index(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val base = path.stripSuffix("/")
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val nBuckets = graft.sources.ManifestIO.readIntMeta(conf, s"$base/meta",
      "n_buckets").getOrElse(throw new IllegalStateException(
      s"bm25 index meta at $base/meta is unreadable or empty"))
    IndexCommit.commit(df.sparkSession,
      bm25Outputs(df, idCol, textCol, base, nBuckets, IndexCommit.Add),
      IndexCommit.batchPin(conf, s"$base/meta"))
  }

  /** The three BM25 outputs in publish order. Posting rows route to their
    * bucket BEFORE the partitioned write: without this every task writes a
    * file into every bucket directory it touches (tasks x buckets small
    * files); with it, one file per bucket.
    */
  private def bm25Outputs(df: DataFrame, idCol: String, textCol: String,
      base: String, nBuckets: Int,
      how: IndexCommit.Publish): Seq[IndexCommit.Output] = {
    val (postings, doclens, stats) = bm25Delta(df, idCol, textCol, nBuckets)
    Seq(
      IndexCommit.Output(s"$base/postings", how, postings.repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(_)),
      IndexCommit.Output(s"$base/doclens", how,
        doclens.write.mode("overwrite").parquet(_)),
      IndexCommit.Output(s"$base/stats", how,
        stats.write.mode("overwrite").parquet(_)))
  }

  private def bm25Delta(df: DataFrame, idCol: String, textCol: String,
      nBuckets: Int): (DataFrame, DataFrame, DataFrame) = {
    val tok = df.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val postings = tok.groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", hashBucket(col("tok"), nBuckets).cast("int"))
    // doclens materialized once: it feeds its own write AND the stats
    // delta — uncheckpointed, the tokenize explode behind it would run
    // once per consumer (3 passes per build/append instead of 2)
    val doclens = tok.groupBy(col("id")).agg(count(lit(1)).as("dl"))
      .localCheckpoint()
    val stats = doclens.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    (postings, doclens, stats)
  }

  /** Query a [[buildBm25Index]] index: identical scoring (and output) to
    * the in-memory [[bm25]] over the indexed corpus, but reading only the
    * query terms' posting partitions — the terms' buckets are computed
    * driver-side ([[hashBucketOf]]) and pushed as partition-pruning
    * literals, then the doc-length join touches only candidate ids.
    * Corpus stats fold from the delta rows (≤ one per append).
    */
  def searchBm25Indexed(spark: org.apache.spark.sql.SparkSession,
      path: String, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val base = path.stripSuffix("/")
    val nBuckets = graft.sources.ManifestIO.readIntMeta(
      spark.sparkContext.hadoopConfiguration, s"$base/meta", "n_buckets")
      .getOrElse(throw new IllegalStateException(
        s"bm25 index meta at $base/meta is unreadable or empty"))
    val termsL = queryTerms.map(_.toLowerCase)
    val tbs = termsL.map(hashBucketOf(_, nBuckets)).distinct
    val tf = spark.read.parquet(s"$base/postings")
      .filter(col("tb").isin(tbs: _*) && col("tok").isin(termsL: _*))
      .select(col("id"), col("tok"), col("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val docLen = spark.read.parquet(s"$base/doclens")
    val stats = spark.read.parquet(s"$base/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl") / col("n_docs")).as("avgdl"))
    bm25Score(tf, dfreq, docLen, stats, k1, b, topK)
  }

  /** Corpus-frequent word n-grams (boilerplate/template detection — the
    * "this article is licensed under" problem) with EXACT counts, screened
    * by a Count-Min sketch: the CMS estimate is ONE-SIDED (never below the
    * true count), so `estimate >= minCount` keeps every truly-heavy gram —
    * no false negatives — and the exact recount of the survivors kills the
    * collision-inflated false positives. Output is bit-identical to the
    * plain groupBy-HAVING, which is what the oracle verifies.
    *
    * Scale shape: the sketch is depth×width counters (~1 MB at the
    * defaults), built in one treeAggregate pass and broadcast once; the
    * screen is a row-local hash, so the counting shuffle carries only
    * CANDIDATE gram rows (true heavies + collision survivors) instead of
    * corpus-vocabulary partials — the win when the gram space (|vocab|^n)
    * dwarfs the heavy set. Tighten `eps` to shrink the candidate spill,
    * at width ∝ 1/eps sketch memory.
    */
  def heavyGrams(df: DataFrame, textCol: String, n: Int, minCount: Long,
      eps: Double = 1e-4, confidence: Double = 0.99): DataFrame = {
    val positions = when(size(col("_w")) >= n,
      sequence(lit(0), size(col("_w")) - n)).otherwise(array())
    val gram = concat_ws(" ",
      (0 until n).map(j => element_at(col("_w"), col("_i") + j + 1)): _*)
    val grams = df.select(split(trim(col(textCol)), "\\s+").as("_w"))
      .withColumn("_i", explode(positions))
      .select(gram.as("gram"))
    val cms = grams.stat.countMinSketch(col("gram"), eps, confidence, 42)
    val cmsB = grams.sparkSession.sparkContext.broadcast(cms)
    val est = udf((s: String) => cmsB.value.estimateCount(s))
    grams.filter(est(col("gram")) >= minCount)
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Hashed TF-IDF document vectors — the feature-hashing featurizer
    * (Weinberger et al. 2009) that turns raw text into fixed-`dim`
    * vectors without a vocabulary dictionary: tokens hash straight to
    * buckets, so the feature space is O(dim) regardless of corpus
    * vocabulary, and a NEW batch featurizes identically with no fitted
    * state to ship. Output: (vec_id, embedding: array<double> of length
    * `dim`) — directly consumable by [[Similarity.kmeans]]/[[textClusters]]
    * and every embedding operator.
    *
    * Exactness design: idf is quantized to integer MICRO-units
    * (round(ln((N+1)/(df+1))·1e6) + 1e6, the [[nbClassify]] trick), so
    * every bucket weight is an exact integer sum (tf × idf_micro) —
    * associative under any partitioning and bit-identical in any engine;
    * the final cast to double is exact below 2^53.
    *
    * Scale shape: one corpus-scale (doc, token) count with map-side
    * combine; df/idf is a vocab-sized aggregation; the idf join is
    * hash-distributed on token (NOT broadcast — vocab can be large); the
    * vector assembly is ONE doc-keyed aggregation with `dim` conditional
    * integer sums (codegen'd, no pivot/collect). Nothing driver-side.
    */
  def tfidfHashedVectors(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 64): DataFrame = {
    val toks = df.select(col(idCol).as("vec_id"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val tf = toks.groupBy(col("vec_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val idf = dfreq.crossJoin(broadcast(nDocs))
      .select(col("tok"),
        (round(log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0)))
          * lit(1e6)).cast("long") + lit(1000000L)).as("idf_micro"))
    tf.join(idf, Seq("tok"))
      .select(col("vec_id"), hashBucket(col("tok"), dim).cast("int").as("bkt"),
        (col("tf") * col("idf_micro")).as("w"))
      // two-level assembly: the (doc, bucket) aggregation collapses the
      // token-scale input with map-side combine (<= dim rows per doc reach
      // the shuffle), and the dense vector assembles ROW-LOCALLY from a
      // <= dim-entry map — NOT as `dim` conditional sums over every token
      // row, which evaluates dim x |tokens| predicates (measured 4x
      // slower at sf0.1)
      .groupBy(col("vec_id"), col("bkt")).agg(sum(col("w")).as("bw"))
      .groupBy(col("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("bkt"), col("bw"))))
        .as("_m"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)),
          j => coalesce(element_at(col("_m"), j.cast("int")), lit(0L))
            .cast("double")).as("embedding"))
  }

  /** Text clustering over hashed TF-IDF vectors — the DCLM/Dolma-style
    * cluster-based curation primitive (cluster the corpus, then inspect /
    * reweight / drop whole clusters). Composition of
    * [[tfidfHashedVectors]] and the deterministic [[Similarity.kmeans]]
    * (md5-ordered seeding, cosine assignment): no new distributed
    * machinery, which is the point — text becomes `embedding` and every
    * vector operator (kmeans, SemDeDup, ANN) applies as-is. Returns
    * (id, label).
    */
  def textClusters(df: DataFrame, idCol: String, textCol: String, k: Int,
      iters: Int = 2, dim: Int = 64): DataFrame = {
    // kmeans rescans its corpus every iteration (assignment + mean
    // update); the featurization subtree is corpus-scale work, so
    // materialize it ONCE — vectors are dim-sized rows, the cheap thing
    // to hold, and exactly what a 100 TB deployment would persist as a
    // feature table anyway (measured 4x on the sf0.1 bench row)
    val vecs = tfidfHashedVectors(df, idCol, textCol, dim).localCheckpoint()
    Similarity.kmeans(vecs, k, iters)
      .select(col("vec_id").as(idCol), col("label"))
  }

  /** c-TF-IDF cluster labeling (Grootendorst 2022): top-`topN` terms per
    * [[textClusters]] cluster by class-based TF-IDF — within-cluster term
    * frequency × log(1 + A / corpus-wide tf), A the mean token count per
    * cluster. The standard way to NAME unsupervised document clusters;
    * ties break on the token. Output: (label, rank, tok, score).
    *
    * Scale shape: one (label, tok) aggregation over the token table
    * (map-side combined), a broadcast of the vocabulary-sized corpus-tf
    * table's join — comparable to one extra tokenize pass on top of the
    * clustering it labels.
    */
  def clusterTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int, iters: Int = 2, dim: Int = 64, topN: Int = 3): DataFrame = {
    val labels = textClusters(df, idCol, textCol, k, iters, dim)
      .localCheckpoint()
    val toks = df.select(col(idCol), explode(split(trim(col(textCol)),
        "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .join(labels, Seq(idCol))
    val ctf = toks.groupBy(col("label"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val allTf = toks.groupBy(col("tok")).agg(count(lit(1)).as("atf"))
    val avgA = toks.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .agg(avg(col("n")).as("a"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("score").desc, col("tok"))
    ctf.join(allTf, Seq("tok"))
      .crossJoin(broadcast(avgA))
      .withColumn("score", col("tf") * log(lit(1.0) + col("a") / col("atf")))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= topN)
      .select(col("label"), col("rank"), col("tok"), col("score"))
  }

  /** Multinomial Naive Bayes text classifier — the classic trainable
    * quality/domain filter baseline a curation pipeline reaches for
    * before a fastText model (CCNet/DCLM-style label filtering). Trains
    * on a labeled corpus (pure distributed counting — one shuffle) and
    * scores any corpus against the trained model. Laplace add-one
    * smoothing; unseen tokens price at 1/(classTotal + V).
    *
    * Hash-stability design: every log term (class prior, per-(class,
    * token) likelihood) is rounded to integer MICRO-nats
    * (round(ln(p)*1e6) as long) BEFORE the per-document sum, so the
    * aggregation is exact integer arithmetic — associative under any
    * partitioning / execution order and reproducible bit-for-bit in any
    * engine. Argmax ties break on the smallest class value.
    *
    * Scale shape: training is two hash aggregations with map-side
    * combine ((class, token) counts, class totals); V and doc priors are
    * 1-row / n-class broadcasts. Scoring expands each token row by
    * n_classes (the classifier's intrinsic cost — bounded by the class
    * count, not the corpus), joins hash-distributed on (token, class)
    * against the count table (no broadcast: vocab×classes can be large),
    * then one (id, class) aggregation and a per-id window over n_classes
    * rows. Docs with no tokens produce no output rows.
    */
  def nbClassify(train: DataFrame, scoreDf: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def micro(c: Column): Column = round(log(c) * lit(1e6)).cast("long")
    val tTok = train.select(col(labelCol).as("cls"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val ctc = tTok.groupBy(col("cls"), col("tok")).agg(count(lit(1)).as("cf"))
    val ctot = ctc.groupBy(col("cls")).agg(sum(col("cf")).as("ctot"))
    val vsize = ctc.select(countDistinct(col("tok")).as("v"))
    val priors = train.groupBy(col(labelCol).as("cls"))
      .agg(count(lit(1)).as("nd"))
    val nAll = priors.select(sum(col("nd")).as("n_docs"))
    val classTable = ctot
      .join(priors, Seq("cls"))
      .crossJoin(vsize).crossJoin(nAll)
      .select(col("cls"), col("ctot"), col("v"),
        micro(col("nd") / col("n_docs")).as("prior_micro"))
    val sTok = scoreDf.select(col(idCol).as("id"),
      explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val perClass = sTok
      .crossJoin(broadcast(classTable))
      .join(ctc, Seq("tok", "cls"), "left")
      .select(col("id"), col("cls"), col("prior_micro"),
        micro((coalesce(col("cf"), lit(0L)) + lit(1.0))
          / (col("ctot") + col("v"))).as("llh_micro"))
      .groupBy(col("id"), col("cls"), col("prior_micro"))
      .agg(sum(col("llh_micro")).as("tok_micro"))
      .select(col("id"), col("cls"),
        (col("prior_micro") + col("tok_micro")).as("score_micro"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("score_micro").desc, col("cls").asc)
    perClass
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("id"), col("cls").as("pred"), col("score_micro"))
  }

  /** Distinct adjacent-token co-occurrence edges over the lowercased
    * corpus — the graph behind TextRank keyword extraction
    * ([[Graph.pageRank]] over these edges ranks tokens by how centrally
    * they sit in the corpus's co-occurrence structure; Mihalcea & Tarau
    * 2004, window = 2). Self-loops dropped; edges are undirected (the
    * caller's pageRank mirrors them). One explode + distinct — the
    * distinct bounds the graph by vocabulary², in practice by observed
    * bigrams, independent of corpus row count.
    */
  def cooccurrenceEdges(df: DataFrame, textCol: String): DataFrame =
    df.select(split(lower(col(textCol)), "\\s+").as("_w"))
      .filter(size(col("_w")) >= 2)
      .select(explode(expr(
        "transform(slice(_w, 1, size(_w) - 1), " +
          "(x, i) -> struct(x AS a, element_at(_w, i + 2) AS b))")).as("p"))
      .select(col("p.a"), col("p.b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Gopher-style document quality gates (Rae et al. 2021 §A1.1) — the
    * rule battery every large-scale pretraining corpus is filtered
    * through: word-count bounds, mean-word-length bounds, a symbol-to-word
    * cap (hash marks + ellipses), a minimum fraction of words containing
    * an alphabetic character, and a required-stopword floor. Emits one
    * boolean per rule plus the conjunction, alongside the raw features —
    * keeping the per-rule verdicts lets a curation report attribute WHY a
    * document fell (the standard ablation table), not just that it did.
    *
    * Every feature is a row-local codegen'd column expression over one
    * tokenization — a single narrow projection, no shuffle, no UDF: the
    * filter runs at parquet-scan speed and Catalyst pushes the `pass`
    * predicate down when only survivors are selected downstream.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, minAlphaFrac: Double = 0.8,
      minStopHits: Int = 2): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val words = split(col(textCol), "\\s+")
    val lower_ = split(lower(col(textCol)), "\\s+")
    val nWords = size(words).cast("long")
    // mean over actual token lengths (not chars/words, which double-counts
    // runs of whitespace): one fold over the already-split array
    val meanLen = aggregate(words, lit(0L),
      (acc, w) => acc + length(w)).cast("double") / nWords
    val alphaWords = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    val hashMarks = length(col(textCol)) -
      length(regexp_replace(col(textCol), "#", ""))
    val ellipses = (length(col(textCol)) -
      length(regexp_replace(col(textCol), "\\.\\.\\.", ""))) / lit(3)
    val stopHits = stops.map(s =>
      when(array_contains(lower_, s), 1).otherwise(0))
      .reduce(_ + _)
    df.select(
        col(idCol).as("id"),
        nWords.as("n_words"),
        round(meanLen, 4).as("mean_word_len"),
        round((hashMarks + ellipses).cast("double") / nWords, 4)
          .as("symbol_ratio"),
        round(alphaWords.cast("double") / nWords, 4).as("alpha_frac"),
        stopHits.cast("int").as("stop_hits"))
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("ok_symbols", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("ok_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("ok_stops", col("stop_hits") >= minStopHits)
      .withColumn("pass",
        col("ok_words") && col("ok_mean_len") && col("ok_symbols") &&
          col("ok_alpha") && col("ok_stops"))
  }

  /** Exact phrase search via positional postings — the capability BM25's
    * bag-of-words index cannot express: find documents containing the
    * token sequence `phrase` at consecutive whitespace positions, with
    * the match count per document.
    *
    * Shape: tokenize once into (id, pos, tok) postings, keep ONLY the
    * phrase's terms (the isin filter prunes before any shuffle — at scale
    * against a persisted positional index this is a partition-pruned read
    * of the phrase terms' posting lists, never a corpus scan), then
    * intersect the positions: an occurrence at p needs term k at p + k
    * for every k, which is a chain of equi-joins on (id, pos + k) —
    * each join keyed and shuffled on (id, adjusted pos), monotonically
    * shrinking the candidate set (term-frequency-ascending join order
    * would shrink fastest; position lists are small enough that plan
    * simplicity wins here).
    */
  def phraseSearch(df: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs a non-empty phrase")
    val terms = phrase.map(_.toLowerCase)
    val tok = df.select(col(idCol).as("id"),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .filter(col("tok").isin(terms: _*))
    phraseIntersect(tok, terms)
  }

  /** The position-list intersection shared by [[phraseSearch]] and
    * [[searchPhraseIndexed]] — ONE definition, so the persisted index's
    * phrase semantics can never drift from the in-memory operator's.
    * Input `tok`: (id, pos, tok) rows covering at least the phrase terms.
    */
  private def phraseIntersect(tok: DataFrame, terms: Seq[String]): DataFrame = {
    val first = tok.filter(col("tok") === terms.head)
      .select(col("id"), col("pos").as("p0"))
    val matches = terms.zipWithIndex.drop(1).foldLeft(first) {
      case (acc, (t, k)) =>
        val next = tok.filter(col("tok") === t)
          .select(col("id"), (col("pos") - k).as("p0"))
        acc.join(next, Seq("id", "p0"))
    }
    matches.groupBy(col("id"))
      .agg(count(lit(1)).as("n_matches"))
  }

  /** Build a persisted POSITIONAL inverted index — [[buildBm25Index]]'s
    * layout (token-hash-bucketed postings + pinned meta) with positions
    * kept per occurrence: `postings/tb=<b>` (tok, id, pos). Bigger at
    * rest than the tf-only index (one row per occurrence, not per (doc,
    * term)) — the price of answering phrase and proximity queries at all.
    * Appends follow the disjoint-batch contract: new doc ids land under
    * the same pinned buckets, O(batch).
    */
  def buildPositionalIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 256): Unit = {
    val base = path.stripSuffix("/")
    val postings = df.select(col(idCol).as("id"),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .withColumn("tb", hashBucket(col("tok"), nBuckets).cast("int"))
    IndexCommit.commit(df.sparkSession, Seq(IndexCommit.Output(
      s"$base/postings", IndexCommit.Replace, postings.repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(_))),
      pin = Some(s"$base/meta" -> Seq("n_buckets" -> nBuckets)))
  }

  /** Fold a new document batch into a [[buildPositionalIndex]] index:
    * occurrence rows append under the pinned bucket layout — O(batch),
    * nothing rewritten, the disjoint-batch contract every persisted
    * index here shares (doc ids must be new).
    */
  def appendToPositionalIndex(df: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val base = path.stripSuffix("/")
    val spark = df.sparkSession
    val nBuckets = graft.sources.ManifestIO.readIntMeta(
      spark.sparkContext.hadoopConfiguration, s"$base/meta", "n_buckets")
      .getOrElse(throw new IllegalStateException(
        s"positional index meta at $base/meta is unreadable or empty"))
    val postings = df.select(col(idCol).as("id"),
        posexplode(split(lower(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .filter(length(col("tok")) > 0)
      .withColumn("tb", hashBucket(col("tok"), nBuckets).cast("int"))
    IndexCommit.commit(spark, Seq(IndexCommit.Output(s"$base/postings",
      IndexCommit.Add, postings.repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(_))))
  }

  /** Phrase query against a [[buildPositionalIndex]] index: identical
    * output to [[phraseSearch]] over the indexed corpus, but reading ONLY
    * the phrase terms' posting buckets (driver-computed pruning literals,
    * as [[searchBm25Indexed]]) — per-query cost scales with the terms'
    * posting lists, never the corpus.
    */
  def searchPhraseIndexed(spark: org.apache.spark.sql.SparkSession,
      path: String, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "searchPhraseIndexed needs a non-empty phrase")
    val base = path.stripSuffix("/")
    val nBuckets = graft.sources.ManifestIO.readIntMeta(
      spark.sparkContext.hadoopConfiguration, s"$base/meta", "n_buckets")
      .getOrElse(throw new IllegalStateException(
        s"positional index meta at $base/meta is unreadable or empty"))
    val terms = phrase.map(_.toLowerCase)
    val tbs = terms.map(hashBucketOf(_, nBuckets)).distinct
    val tok = spark.read.parquet(s"$base/postings")
      .filter(col("tb").isin(tbs: _*) && col("tok").isin(terms: _*))
      .select(col("id"), col("pos"), col("tok"))
    phraseIntersect(tok, terms)
  }
}
