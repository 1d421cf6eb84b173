package graft.tools

import org.apache.spark.sql.{DataFrame, functions => F}

/** Dev tool: derive a K×-larger synthetic corpus from an existing sf dir
  * by unioning K salted replicas (the BASELINE.md §e scale spot-bench).
  *
  * Each replica salts every NON-stopword token with a per-replica suffix.
  * Token salting is a bijection on the token vocabulary, so WITHIN a
  * replica every shingle-set relation — and therefore the near-dup pair
  * structure — is EXACTLY the source corpus's; ACROSS replicas docs share
  * only stopword-stopword bigrams (far below any Jaccard threshold), so
  * pair volume scales linearly with the corpus (as real corpora do)
  * instead of exploding quadratically from replication artifacts. The
  * stopwords (TextAnalysis.qualityFeatures' marker set) survive verbatim,
  * so token-level quality gates (n_tokens, stopword_ratio) behave
  * identically per replica and the curation cascade stays meaningful.
  * (Rejected alternatives, measured: a single trailing salt token left
  * replicas ~0.9-Jaccard near-dups of their originals — 1000× the pairs;
  * per-replica token SORTING canonicalized docs onto each other — 17000×.)
  * Compare k=10 against a k=1 run of the SAME construction so numerator
  * and denominator share their character.
  * Ids offset by a stride that is a multiple of every %-modulus the
  * registry queries use (10, 20, 50, 100), preserving query/probe subset
  * ratios. The stride is DERIVED: at least 1,000,000 (the historical
  * value, so x1-vs-x10 legs stay comparable), raised to clear the
  * source's max id rounded up to a modulus multiple — feeding a larger
  * sf dir, or an already-scaled dir, back in can therefore never
  * overlap replica key ranges and silently fabricate duplicate ids.
  * Embeddings get a per-replica alternating-sign perturbation so replica
  * directions differ (no artificial cosine-duplicate explosion either).
  *
  * Usage: runMain graft.tools.MakeScale [srcSfDir] [dstDir] [k]
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/scale/sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session()
    // one global stride across all tables: max source id, rounded up to a
    // multiple of every registry %-modulus (lcm(10,20,50,100) = 100),
    // floored at the historical 1,000,000
    val maxId = Seq(
      s"$src/documents.parquet" -> "doc_id",
      s"$src/embeddings.parquet" -> "vec_id",
      s"$src/events.parquet" -> "event_id",
      s"$src/events.parquet" -> "user_id",
      s"$src/orders.parquet" -> "o_orderkey",
      s"$src/lineitem.parquet" -> "l_orderkey",
    ).flatMap { case (p, c) =>
      try {
        val r = spark.read.parquet(p).agg(F.max(F.col(c)).cast("long")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      } catch { case _: Throwable => None }
    }.max
    val stride = math.max(1000000L, (maxId / 100L + 1L) * 100L)
    println(s"[makescale] stride=$stride (max source id $maxId)")
    // persist the stride next to the output: downstream scale legs (phash,
    // hardneg) must group replicas by id/stride, and a manually-synced env var
    // silently corrupts their measurement whenever the derived stride
    // exceeds the historical default (review finding)
    spark.range(0, 1, 1, 1).select(F.lit(stride).as("stride"))
      .write.mode("overwrite").parquet(s"$dst/scale_meta")
    /** `t`'s k replicas, replica i = `f(source table, i)`, written to dst. */
    def replicate(t: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val in = spark.read.parquet(s"$src/$t.parquet")
      (0 until k).map(f(in, _)).reduce(_ unionByName _)
        .repartition(32).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    val stop = Seq("the", "a", "of", "and", "is", "to", "in")
    replicate("documents") { (docs, i) =>
      val salted = F.array_join(
        F.transform(F.split(F.col("text"), "\\s+"), t =>
          F.when(F.lower(t).isin(stop: _*), t)
            .otherwise(F.concat(t, F.lit(s"z$i")))),
        " ")
      docs.select(
        (F.col("doc_id") + F.lit(i * stride)).as("doc_id"),
        salted.as("text"),
        F.col("lang"), F.col("source"), F.col("n_chars"))
    }
    replicate("embeddings") { (emb, i) =>
      emb.select(
        (F.col("vec_id") + F.lit(i * stride)).as("vec_id"),
        F.transform(F.col("embedding"), (x, j) =>
          x + F.lit(0.02f * i) * F.when(j % 2 === 0, F.lit(1.0f))
            .otherwise(F.lit(-1.0f))).as("embedding"),
        F.col("label"))
    }
    // events replicate on the USER axis (user_id + replica stride,
    // event_id re-keyed, ts untouched): every per-user construct —
    // windows, sessions, funnels, SCD2 histories, as-of matches — is
    // EXACTLY the source corpus's within each replica and disjoint
    // across replicas, so event-family outputs scale linearly with no
    // cross-replica interference and no artificial time densification
    // (per-hour window groups keep k× the rows, the shuffle's real
    // scale axis). Closes the standing "events rows have no ×10 leg"
    // gap (BASELINE §e).
    replicate("events") { (ev, i) =>
      ev.select(
        (F.col("event_id") + F.lit(i * stride)).as("event_id"),
        F.col("ts"),
        (F.col("user_id") + F.lit(i * stride)).as("user_id"),
        F.col("event_type"), F.col("value"), F.col("props"))
    }
    // orders/lineitem replicate on the ORDERKEY axis — and DELIBERATELY
    // amplify skew: within every replica, the lineitem rows of 50% of
    // orderkeys (key % 100 < 50) are re-routed onto ONE global hot key
    // (the source's min orderkey, which replica 0 keeps un-offset, so the
    // hot key always has exactly one orders row). The hot key's share is
    // scale-invariant (~50% of ALL lineitem rows at any k), which is the
    // workload the gated skew join exists for — a plain shuffle join must
    // sort that key's rows in one task while saltedHotKeys spreads them.
    // Everything else re-keys by +i*stride: per-replica join fan-out is
    // exactly the source's, disjoint across replicas.
    val hotKey = spark.read.parquet(s"$src/orders.parquet")
      .agg(F.min(F.col("o_orderkey"))).head().getLong(0)
    replicate("orders") { (ord, i) =>
      ord.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * stride))
    }
    replicate("lineitem") { (li, i) =>
      li.withColumn("l_orderkey",
        F.when(F.col("l_orderkey") % 100 < 50, F.lit(hotKey))
          .otherwise(F.col("l_orderkey") + F.lit(i * stride)))
    }
    // dimension tables pass through UNCHANGED: orders keep o_custkey
    // un-offset, so every replica joins the same 1× dims — the realistic
    // scale shape (facts grow with time, dims don't) and exactly what a
    // fact⨝dim ×10 leg should measure
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      val p = s"$src/$t.parquet"
      if (new java.io.File(p).exists())
        spark.read.parquet(p).write.mode("overwrite")
          .parquet(s"$dst/$t.parquet")
    }
    println(s"[makescale] wrote ${k}x $src -> $dst (hot orderkey $hotKey)")
    spark.stop()
  }
}
