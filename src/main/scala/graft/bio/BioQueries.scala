package graft.bio

import graft.{Q, Tables => T}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bio pipeline's relational skeleton exercised on the driver's generic
  * corpus (documents.text over a lowercase-letter alphabet instead of amino
  * acids — same operators: F1 extract, C2 encode, A1 argmax dedup, J1 join,
  * A2 count gate), each with an independent DuckDB formulation as oracle.
  * Plus the flagship protein self-search as a rows-only check.
  */
object BioQueries {

  private val Alpha = "abcdefghijklmnopqrstuvwxyz"
  private val K = 9

  /** Whitespace is stripped before windowing (documents are word streams;
    * un-stripped, every 9-window crosses a space and the index is empty).
    */
  private def docsAsSeqs(s: SparkSession, d: String) =
    T.documents(s, d).select(
      col("doc_id").as("seqId"),
      regexp_replace(col("text"), "\\s+", "").as("seq"))
      .withColumn("seqLen", length(col("seq")).cast("int"))

  /** The document queries' prefilter: query docs (doc_id % 20 = 0)
    * against the unique-k-mer index of all docs. Returns (docs as
    * sequences, hit groups).
    */
  private def docGroups(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val seqs = docsAsSeqs(s, d)
    val index = KmerIndex.buildWithPos(seqs, K, Alpha)
    val qk = Prefilter.queryKmers(seqs.filter(col("seqId") % 20 === 0), K, Alpha)
    (seqs, Prefilter.runWithDiag(qk, index))
  }

  /** Per prefilter hit group ([[Prefilter.runWithDiag]]): the pair, its
    * hit count as `countName`, its best diagonal — the one with the most
    * hits, ties -> smallest — and the longest run of identical characters
    * along that diagonal (ties -> leftmost), with 1-based inclusive
    * coordinates. q carries (query_id, qtext, qlen), t (target_id, ttext,
    * tlen). The two ALIGNED overlap substrings are sliced once, then a
    * codegen'd per-row byte scan (ops.TextAnalysis.LongestIdentityRun) —
    * no explode (|pairs| x seqLen row blowup + two window shuffles), no
    * interpreted higher-order fold (measured 3x slower than even the
    * explode). Leftmost-maximal tie rule = strict > while scanning,
    * matching the oracles' (alnlen DESC, q0) window.
    */
  private def bestDiagonalRuns(groups: DataFrame, q: DataFrame, t: DataFrame,
      countName: String): DataFrame = {
    val perDiag = groups
      .select(col("queryId").as("query_id"), col("targetId").as("target_id"),
        size(col("hits")).cast("bigint").as(countName),
        explode(col("hits.diag")).as("diag"))
      .groupBy(col("query_id"), col("target_id"), col(countName), col("diag"))
      .agg(count(lit(1)).as("nd"))
    val wd = Window.partitionBy(col("query_id"), col("target_id"))
      .orderBy(col("nd").desc, col("diag"))
    val bestDiag = perDiag.withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1).select("query_id", "target_id", countName, "diag")
    val lo = greatest(col("diag"), lit(0))
    val hiEx = least(col("qlen"), col("tlen") + col("diag"))
    val overlap = hiEx - lo
    bestDiag.join(q, Seq("query_id")).join(t, Seq("target_id"))
      .filter(lo < hiEx)
      .withColumn("run", graft.ops.TextAnalysis.longestIdentityRun(
        col("qtext").substr(lo + 1, overlap),
        col("ttext").substr(lo - col("diag") + 1, overlap)))
      .filter(col("run.len") > 0)
      .withColumn("q0", lo + col("run.start"))
      .select(col("query_id"), col("target_id"), col(countName), col("diag"),
        col("run.len").cast("bigint").as("alnlen"),
        (col("q0") + 1).as("qstart"),
        (col("q0") + col("run.len")).as("qend"),
        (col("q0") - col("diag") + 1).as("tstart"),
        (col("q0") + col("run.len") - col("diag")).as("tend"))
  }

  /** SQL fragment computing (doc_id, n_chars, pos, kmer) over letter-only
    * 9-windows — the DuckDB mirror of explodeKmers + KmerEncode.
    */
  private val duckKmersCte = s"""
    ds AS (
      SELECT doc_id, regexp_replace(text, '\\s+', '', 'g') AS text,
             CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS n_chars
      FROM documents),
    kmi AS (
      SELECT doc_id, n_chars, text,
             unnest(generate_series(1, n_chars - ${K - 1})) AS i
      FROM ds WHERE n_chars >= $K
    ),
    km AS (
      SELECT doc_id, n_chars, i - 1 AS pos, substr(text, CAST(i AS INT), $K) AS s
      FROM kmi
    ),
    enc AS (
      SELECT doc_id, n_chars, pos,
             CAST(SUM((strpos('$Alpha', substr(s, CAST(j.j AS INT), 1)) - 1)
                  * POWER(26, j.j - 1)) AS BIGINT) AS kmer,
             MIN(strpos('$Alpha', substr(s, CAST(j.j AS INT), 1))) AS minp
      FROM km, generate_series(1, $K) AS j(j)
      GROUP BY doc_id, n_chars, pos, s
    ),
    valid AS (SELECT doc_id, n_chars, pos, kmer FROM enc WHERE minp > 0)"""

  /** F1+C2+A1: unique-k-mer index with argmax representative (longest doc,
    * ties -> smallest id) and the representative's first occurrence position.
    */
  val bioKmerIndex = Q(
    "bio_kmer_index",
    (s, d) => {
      KmerIndex.buildWithPos(docsAsSeqs(s, d), K, Alpha)
        .select(col("kmer"), col("seqId").as("doc_id"), col("tpos"))
        .orderBy(col("kmer"))
    },
    Some(s"""
      WITH $duckKmersCte,
      perdoc AS (
        SELECT kmer, doc_id, n_chars, CAST(MIN(pos) AS INT) AS tpos
        FROM valid GROUP BY 1, 2, 3),
      ranked AS (
        SELECT kmer, doc_id, tpos,
               ROW_NUMBER() OVER (PARTITION BY kmer
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM perdoc)
      SELECT kmer, doc_id, tpos FROM ranked WHERE rn = 1 ORDER BY kmer"""))

  /** J1+A2: query docs (doc_id % 20 = 0) against the index, count-gated
    * (strict > 2, the reference's requiredKmerMatches).
    */
  val bioPrefilter = Q(
    "bio_prefilter",
    (s, d) => docGroups(s, d)._2
      .select(col("queryId").as("query_id"), col("targetId").as("target_id"),
        size(col("hits")).cast("bigint").as("n_matches"))
      .orderBy(col("query_id"), col("target_id")),
    Some(s"""
      WITH $duckKmersCte,
      perdoc AS (
        SELECT kmer, doc_id, n_chars FROM valid GROUP BY 1, 2, 3),
      idx AS (
        SELECT kmer, doc_id AS target_id FROM (
          SELECT kmer, doc_id,
                 ROW_NUMBER() OVER (PARTITION BY kmer
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM perdoc) WHERE rn = 1)
      SELECT v.doc_id AS query_id, i.target_id,
             CAST(COUNT(*) AS BIGINT) AS n_matches
      FROM valid v JOIN idx i USING (kmer)
      WHERE v.doc_id % 20 = 0
      GROUP BY 1, 2 HAVING COUNT(*) > 2
      ORDER BY 1, 2"""))

  /** Flagship: full protein self-search (ingest -> index -> prefilter ->
    * align -> m8) on the bundled Cas7-11 fixture. Not SQL-expressible =>
    * rows-only check; correctness is covered by PetaSearchSpec's golden
    * invariants.
    */
  val bioSelfSearch = Q(
    "bio_selfsearch_m8",
    (s, _) => {
      val tmp = java.io.File.createTempFile("cas711", ".fa")
      tmp.deleteOnExit()
      val in = getClass.getResourceAsStream("/MSA_Cas7-11_multiline.fa")
      val degapped = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(l => if (l.startsWith(">")) l else l.replace("-", "").replace(".", ""))
        .mkString("\n")
      java.nio.file.Files.writeString(tmp.toPath, degapped)
      PetaSearch.easySearch(s, tmp.getAbsolutePath, tmp.getAbsolutePath)
    },
    None,
    bench = false) // fixed-size fixture — doesn't scale with sf, skews BENCH

  /** The align path's first DuckDB-green slice (SURVEY §7.2): F1 k-mer
    * extraction -> A1 argmax index -> J1 join -> A2 count gate -> C5
    * restricted to identity-run scoring (Kadane needs scores; an identity
    * run IS Kadane under +1/-inf scoring, SQL-expressible via
    * gaps-and-islands) -> C13 m8-style columns. Per surviving pair: the
    * diagonal with the most k-mer hits (ties -> smallest), then the longest
    * run of identical characters along it (ties -> leftmost), reported with
    * 1-based inclusive coordinates.
    */
  val bioM8Relational = Q(
    "bio_m8_relational",
    (s, d) => {
      val (seqs, groups) = docGroups(s, d)
      val q = seqs.select(col("seqId").as("query_id"), col("seq").as("qtext"),
        col("seqLen").as("qlen"))
      val t = seqs.select(col("seqId").as("target_id"), col("seq").as("ttext"),
        col("seqLen").as("tlen"))
      bestDiagonalRuns(groups, q, t, "n_kmers")
        .orderBy(col("query_id"), col("target_id"))
    },
    Some(s"""
      WITH $duckKmersCte,
      perdoc AS (
        SELECT kmer, doc_id, n_chars, CAST(MIN(pos) AS INT) AS tpos
        FROM valid GROUP BY 1, 2, 3),
      idx AS (
        SELECT kmer, doc_id AS target_id, tpos FROM (
          SELECT kmer, doc_id, tpos,
                 ROW_NUMBER() OVER (PARTITION BY kmer
                                    ORDER BY n_chars DESC, doc_id) AS rn
          FROM perdoc) WHERE rn = 1),
      hits AS (
        SELECT v.doc_id AS query_id, i.target_id,
               CAST(v.pos - i.tpos AS INT) AS diag
        FROM valid v JOIN idx i USING (kmer) WHERE v.doc_id % 20 = 0),
      gated AS (
        SELECT query_id, target_id, CAST(COUNT(*) AS BIGINT) AS n_kmers
        FROM hits GROUP BY 1, 2 HAVING COUNT(*) > 2),
      dc AS (
        SELECT h.query_id, h.target_id, h.diag, COUNT(*) AS nd
        FROM hits h JOIN gated g USING (query_id, target_id)
        GROUP BY 1, 2, 3),
      bestdiag AS (
        SELECT query_id, target_id, diag FROM (
          SELECT query_id, target_id, diag,
                 ROW_NUMBER() OVER (PARTITION BY query_id, target_id
                                    ORDER BY nd DESC, diag) AS rn
          FROM dc) WHERE rn = 1),
      bounds AS (
        -- series bounds precomputed BEFORE the unnest: DuckDB 1.0's binder
        -- hits an internal error on unnest(generate_series(...)) over
        -- freshly-joined columns, and the failure invalidates the whole
        -- connection (poisoning every later oracle). Same staged shape as
        -- the k-mer CTE above.
        SELECT b.query_id, b.target_id, b.diag,
               q.text AS qtext, t.text AS ttext,
               CAST(GREATEST(b.diag, 0) AS BIGINT) AS lo,
               CAST(LEAST(q.n_chars, t.n_chars + b.diag) AS BIGINT) - 1 AS hi
        FROM bestdiag b
        JOIN ds q ON q.doc_id = b.query_id
        JOIN ds t ON t.doc_id = b.target_id
        WHERE GREATEST(b.diag, 0) <= LEAST(q.n_chars, t.n_chars + b.diag) - 1),
      pos AS (
        SELECT query_id, target_id, diag, qtext, ttext,
               unnest(generate_series(lo, hi)) AS i
        FROM bounds),
      mpos AS (
        SELECT query_id, target_id, diag, CAST(i AS INT) AS i
        FROM pos
        WHERE substr(qtext, CAST(i AS INT) + 1, 1)
                = substr(ttext, CAST(i AS INT) - diag + 1, 1)),
      runs AS (
        SELECT query_id, target_id, diag, CAST(COUNT(*) AS BIGINT) AS alnlen,
               CAST(MIN(i) AS INT) AS q0, CAST(MAX(i) AS INT) AS q1
        FROM (
          SELECT query_id, target_id, diag, i,
                 i - ROW_NUMBER() OVER (PARTITION BY query_id, target_id
                                        ORDER BY i) AS grp
          FROM mpos)
        GROUP BY query_id, target_id, diag, grp),
      best AS (
        SELECT query_id, target_id, diag, alnlen, q0, q1 FROM (
          SELECT r.*, ROW_NUMBER() OVER (PARTITION BY query_id, target_id
                                         ORDER BY alnlen DESC, q0) AS rn
          FROM runs r) WHERE rn = 1)
      SELECT b.query_id, b.target_id, g.n_kmers, b.diag, b.alnlen,
             b.q0 + 1 AS qstart, b.q1 + 1 AS qend,
             b.q0 - b.diag + 1 AS tstart, b.q1 - b.diag + 1 AS tend
      FROM best b JOIN gated g USING (query_id, target_id)
      ORDER BY query_id, target_id"""))

  /** Aligned rows of the bundled Cas7-11 MSA fixture (header lines
    * stripped, wrapped sequence lines joined) — shared by the profile
    * queries below.
    */
  private lazy val msaAligned: Vector[String] = Fasta.localRecords(
    scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/MSA_Cas7-11_multiline.fa"), "UTF-8")
      .getLines()).map(_._2)

  /** F4 profile search: one PSSM profile built from the bundled Cas7-11 MSA
    * (all 21 aligned rows), searched against the degapped member sequences —
    * consensus k-mers seed the prefilter, the gapped aligner scores targets
    * against the per-position profile columns. Not SQL-expressible =>
    * rows-only; scoring correctness is covered by ProfilesSpec and the
    * relational prefix by [[bioProfilePrefilter]]'s hash-checked oracle.
    */
  val bioProfileSearch = Q(
    "bio_profile_search",
    (s, _) => {
      import s.implicits._
      val msa = msaAligned
      val prof = Profiles.fromAlignedSeqs(msa.toSeq)
      val profiles = Seq((0L, "cas711_profile", prof))
        .toDF("seqId", "header", "profile")
      val targets = msa.zipWithIndex.map { case (row, i) =>
        val seq = row.replace("-", "").replace(".", "").toUpperCase
        (i.toLong, s"member$i", s"member$i", seq, seq.length)
      }.toSeq.toDF("seqId", "header", "name", "seq", "seqLen")
      PetaSearch.searchProfiles(s, profiles, targets)
        .select(col("queryId"), col("targetId"), col("bits"),
          round(col("fident"), 3).as("fident"))
        .orderBy(col("targetId"))
    },
    None,
    bench = false) // fixed-size fixture, like bio_selfsearch_m8

  /** The Cas7-11 profile's masked consensus string — the exact input
    * `QueryTable.rowsForProfile` windows over (consensus extraction +
    * tantan masking, with masked positions as 'X'). Computed once, plain
    * Scala; embedded as a literal in [[bioProfilePrefilter]]'s oracle.
    */
  private lazy val profMaskedConsensus: String = {
    val m = Matrices.blosum62
    val prof = Profiles.fromAlignedSeqs(msaAligned)
    val cons = Profiles.extractConsensus(prof, m)
    val ords = Tantan.mask(cons.map(c => m.aa2num(c & 0xff)).toArray, m)
    ords.map(o => m.alphabet(o)).mkString
  }

  /** The profile queries' prefilter: the Cas7-11 profile's query table
    * (exact seeding — the profile twin of `--exact-kmer-matching`, ref
    * `Parameters.cpp:2255`) against the A1 argmax index of the degapped
    * members. Returns (targets(seqId, header, seq, seqLen), hit groups).
    */
  private def profileGroups(s: SparkSession): (DataFrame, DataFrame) = {
    import s.implicits._
    val profiles = Seq((0L, "cas711_profile", Profiles.fromAlignedSeqs(msaAligned)))
      .toDF("seqId", "header", "profile")
    val targets = msaAligned.zipWithIndex.map { case (row, i) =>
      val seq = row.replace("-", "").replace(".", "").toUpperCase
      (i.toLong, s"member$i", seq, seq.length)
    }.toDF("seqId", "header", "seq", "seqLen")
    val params = PetaSearch.Params()
    val index = KmerIndex.buildWithPos(targets, params.k, params.mode.kmerAlphabet)
    val qk = QueryTable.buildFromProfiles(s, profiles,
      params.queryConfig.copy(exactKmerMatching = true))
    (targets, Prefilter.runWithDiag(qk, index, params.requiredKmerMatches))
  }

  /** DuckDB mirror of [[profileGroups]]' hit rows: the masked consensus
    * and the degapped members as LITERALS, then 9-windowing, base-20
    * positional encoding, X-window drop, the argmax index, the k-mer join,
    * kmerPos - tpos diagonals and the match-count gate. A WITH list ending
    * in `ts` (target_id, seq, n_chars), `qs` (cons), `hits` (query_id,
    * target_id, kmer, diag) and `gated` (query_id, target_id).
    */
  private lazy val duckProfileHitsCte: String = {
    val ka = Matrices.KmerAlphabet
    val k = KmerIndex.DefaultK
    val tvals = msaAligned.zipWithIndex.map { case (row, i) =>
      val seq = row.replace("-", "").replace(".", "").toUpperCase
      s"($i, '$seq')"
    }.mkString(",\n      ")
    s"""
    WITH tseq(target_id, seq) AS (VALUES
      $tvals),
    ts AS (
      SELECT target_id, seq, CAST(length(seq) AS BIGINT) AS n_chars
      FROM tseq),
    tki AS (
      SELECT target_id, n_chars, seq,
             unnest(generate_series(1, n_chars - ${k - 1})) AS i
      FROM ts WHERE n_chars >= $k),
    tkm AS (
      SELECT target_id, n_chars, i - 1 AS pos,
             substr(seq, CAST(i AS INT), $k) AS s
      FROM tki),
    tenc AS (
      SELECT target_id, n_chars, pos,
             CAST(SUM((strpos('$ka', substr(s, CAST(j.j AS INT), 1)) - 1)
                  * POWER(${ka.length}, j.j - 1)) AS BIGINT) AS kmer,
             MIN(strpos('$ka', substr(s, CAST(j.j AS INT), 1))) AS minp
      FROM tkm, generate_series(1, $k) AS j(j)
      GROUP BY target_id, n_chars, pos, s),
    tvalid AS (
      SELECT target_id, n_chars, pos, kmer FROM tenc WHERE minp > 0),
    perdoc AS (
      SELECT kmer, target_id, n_chars, CAST(MIN(pos) AS INT) AS tpos
      FROM tvalid GROUP BY 1, 2, 3),
    idx AS (
      SELECT kmer, target_id, tpos FROM (
        SELECT kmer, target_id, tpos,
               ROW_NUMBER() OVER (PARTITION BY kmer
                                  ORDER BY n_chars DESC, target_id) AS rn
        FROM perdoc) WHERE rn = 1),
    qs AS (
      SELECT '$profMaskedConsensus' AS cons),
    qki AS (
      SELECT cons,
             unnest(generate_series(1,
               CAST(length(cons) AS BIGINT) - ${k - 1})) AS i
      FROM qs WHERE length(cons) >= $k),
    qkm AS (
      SELECT i - 1 AS kmer_pos, substr(cons, CAST(i AS INT), $k) AS s
      FROM qki),
    qenc AS (
      SELECT kmer_pos,
             CAST(SUM((strpos('$ka', substr(s, CAST(j.j AS INT), 1)) - 1)
                  * POWER(${ka.length}, j.j - 1)) AS BIGINT) AS kmer,
             MIN(strpos('$ka', substr(s, CAST(j.j AS INT), 1))) AS minp
      FROM qkm, generate_series(1, $k) AS j(j)
      GROUP BY kmer_pos, s),
    qvalid AS (SELECT kmer_pos, kmer FROM qenc WHERE minp > 0),
    hits AS (
      SELECT CAST(0 AS BIGINT) AS query_id,
             CAST(i.target_id AS BIGINT) AS target_id, v.kmer,
             CAST(v.kmer_pos - i.tpos AS INT) AS diag
      FROM qvalid v JOIN idx i USING (kmer)),
    gated AS (
      SELECT query_id, target_id FROM hits
      GROUP BY 1, 2 HAVING COUNT(*) > ${Prefilter.RequiredKmerMatches})"""
  }

  /** The profile path's RELATIONAL PREFIX, hash-checked: per hit group of
    * [[profileGroups]] (count-gated, strict >, `comparekmertables.cpp`, with
    * C10 diagonals) its hit count, distinct k-mers and diagonal range. The
    * oracle ([[duckProfileHitsCte]]) replays every relational stage in
    * DuckDB from literals. PSSM-specific stages (consensus extraction,
    * tantan masking, lattice similar-k-mer expansion, profile alignment)
    * stay spec/REFDIFF-covered — with this row the profile path is
    * partially hash-checked instead of rows-only.
    */
  val bioProfilePrefilter = Q(
    "bio_profile_prefilter",
    (s, _) => profileGroups(s)._2
      .select(col("queryId").as("query_id"), col("targetId").as("target_id"),
        size(col("hits")).cast("bigint").as("n_hits"),
        size(array_distinct(col("hits.kmer"))).cast("bigint").as("n_kmers"),
        array_min(col("hits.diag")).as("min_diag"),
        array_max(col("hits.diag")).as("max_diag"))
      .orderBy(col("target_id")),
    Some(s"""
      $duckProfileHitsCte
      SELECT h.query_id, h.target_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
             CAST(COUNT(DISTINCT h.kmer) AS BIGINT) AS n_kmers,
             MIN(h.diag) AS min_diag, MAX(h.diag) AS max_diag
      FROM hits h JOIN gated g USING (query_id, target_id)
      GROUP BY 1, 2 ORDER BY target_id"""),
    bench = false) // fixed-size fixture, like the other profile rows

  /** The profile path's relational slice EXTENDED through the ungapped
    * stage (the bio_m8_relational trick applied to the profile cascade —
    * round-12 verdict item #8): after [[bioProfilePrefilter]]'s
    * hash-checked prefilter prefix, pick each surviving pair's best
    * diagonal (most k-mer hits, ties -> smallest) and score the longest
    * IDENTITY run between the masked consensus and the target along it —
    * an identity run IS ungapped Kadane under +1/-inf scoring, which is
    * SQL-expressible via gaps-and-islands while the real PSSM-scored
    * Kadane (per-position profile columns) stays spec/REFDIFF-covered.
    * With this row the profile path is hash-checked through prefilter +
    * diagonal selection + run scoring; only the PSSM arithmetic itself
    * remains structural.
    */
  val bioProfileRelational = Q(
    "bio_profile_relational",
    (s, _) => {
      import s.implicits._
      val (targets, groups) = profileGroups(s)
      val cons = profMaskedConsensus
      val q = Seq((0L, cons, cons.length)).toDF("query_id", "qtext", "qlen")
      val t = targets.select(col("seqId").as("target_id"),
        col("seq").as("ttext"), col("seqLen").as("tlen"))
      bestDiagonalRuns(groups, q, t, "n_hits").orderBy(col("target_id"))
    },
    Some(s"""
      $duckProfileHitsCte,
      cnt AS (
        SELECT h.query_id, h.target_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM hits h JOIN gated g USING (query_id, target_id)
        GROUP BY 1, 2),
      dc AS (
        SELECT h.query_id, h.target_id, h.diag, COUNT(*) AS nd
        FROM hits h JOIN gated g USING (query_id, target_id)
        GROUP BY 1, 2, 3),
      bestdiag AS (
        SELECT query_id, target_id, diag FROM (
          SELECT query_id, target_id, diag,
                 ROW_NUMBER() OVER (PARTITION BY query_id, target_id
                                    ORDER BY nd DESC, diag) AS rn
          FROM dc) WHERE rn = 1),
      bounds AS (
        -- series bounds precomputed BEFORE the unnest (the
        -- bio_m8_relational staging rule for DuckDB's binder)
        SELECT b.query_id, b.target_id, b.diag,
               q.cons AS qtext, t.seq AS ttext,
               CAST(GREATEST(b.diag, 0) AS BIGINT) AS lo,
               LEAST(CAST(length(q.cons) AS BIGINT),
                     t.n_chars + b.diag) - 1 AS hi
        FROM bestdiag b
        JOIN ts t ON t.target_id = b.target_id
        CROSS JOIN qs q
        WHERE GREATEST(b.diag, 0)
                <= LEAST(length(q.cons), t.n_chars + b.diag) - 1),
      pos AS (
        SELECT query_id, target_id, diag, qtext, ttext,
               unnest(generate_series(lo, hi)) AS i
        FROM bounds),
      mpos AS (
        SELECT query_id, target_id, diag, CAST(i AS INT) AS i
        FROM pos
        WHERE substr(qtext, CAST(i AS INT) + 1, 1)
                = substr(ttext, CAST(i AS INT) - diag + 1, 1)),
      runs AS (
        SELECT query_id, target_id, diag, CAST(COUNT(*) AS BIGINT) AS alnlen,
               CAST(MIN(i) AS INT) AS q0, CAST(MAX(i) AS INT) AS q1
        FROM (
          SELECT query_id, target_id, diag, i,
                 i - ROW_NUMBER() OVER (PARTITION BY query_id, target_id
                                        ORDER BY i) AS grp
          FROM mpos)
        GROUP BY query_id, target_id, diag, grp),
      best AS (
        SELECT query_id, target_id, diag, alnlen, q0, q1 FROM (
          SELECT r.*, ROW_NUMBER() OVER (PARTITION BY query_id, target_id
                                         ORDER BY alnlen DESC, q0) AS rn
          FROM runs r) WHERE rn = 1)
      SELECT b.query_id, b.target_id, c.n_hits, b.diag, b.alnlen,
             b.q0 + 1 AS qstart, b.q1 + 1 AS qend,
             b.q0 - b.diag + 1 AS tstart, b.q1 - b.diag + 1 AS tend
      FROM best b JOIN cnt c USING (query_id, target_id)
      ORDER BY target_id"""),
    bench = false) // fixed-size fixture, like the other profile rows

  def all: Seq[Q] = Seq(bioKmerIndex, bioPrefilter, bioM8Relational,
    bioSelfSearch, bioProfileSearch, bioProfilePrefilter,
    bioProfileRelational)
}
