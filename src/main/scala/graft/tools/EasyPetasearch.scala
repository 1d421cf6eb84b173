package graft.tools

import graft.bio.PetaSearch

/** CLI-equivalent of the reference's `easy-petasearch QUERY_FASTA
  * TARGET_FASTA RESULT_M8` (`src/workflow/easypetasearch.cpp`):
  *
  *   runMain graft.tools.EasyPetasearch query.fasta target.fasta outDir \
  *     [--e EVALUE] [--exact-kmer-matching] [--mode nucleotide] \
  *     [--both-strands] [--profile-search] [--format-output col1,col2,...] \
  *     [--k N] [--req-kmer-matches N] [--xdrop N] [--max-kmer-per-pos N] \
  *     [--kmer-threshold N] [--no-mask]
  *
  * `--both-strands` (implies `--mode nucleotide`) also searches the
  * reverse complement of each query; minus-strand hits are emitted in the
  * m8 minus convention (tstart > tend).
  *
  * The tuning flags mirror the reference workflow's user-visible knobs
  * (`src/commons/LocalParameters.h:29-80`: k, required matches, x-drop,
  * expansion width/threshold, masking).
  *
  * `--format-output` picks custom m8 columns (query target fident alnlen
  * mismatch gapopen qstart qend tstart tend evalue bits qlen tlen qcov
  * tcov cigar qaln taln qseq tseq).
  *
  * `--profile-search` treats the query file as an aligned MSA, builds one
  * PSSM profile from it, and aligns targets against the per-position
  * profile scores (the reference's `--profile-search` blockalign path).
  * Writes the tab-separated BLAST-m8 result under outDir.
  */
object EasyPetasearch {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: EasyPetasearch <query.fasta> <target.fasta> <outDir> [--e N] [--exact-kmer-matching] [--mode nucleotide] [--profile-search]")
    val Array(queryFasta, targetFasta, outDir) = args.take(3)
    var params = PetaSearch.Params()
    var profileSearch = false
    var bothStrands = false
    var outfmt: Option[Seq[String]] = None
    var i = 3
    while (i < args.length) {
      args(i) match {
        case "--e" => params = params.copy(evalThr = args(i + 1).toDouble); i += 2
        case "--exact-kmer-matching" =>
          params = params.copy(query = params.query.copy(exactKmerMatching = true)); i += 1
        case "--mode" if args(i + 1) == "nucleotide" =>
          params = params.copy(mode = PetaSearch.SearchMode.Nucleotide); i += 2
        case "--profile-search" => profileSearch = true; i += 1
        case "--both-strands" =>
          bothStrands = true
          params = params.copy(mode = PetaSearch.SearchMode.Nucleotide); i += 1
        case "--format-output" => outfmt = Some(args(i + 1).split(",").toSeq); i += 2
        case "--k" =>
          val k = args(i + 1).toInt
          params = params.copy(k = k, query = params.query.copy(k = k)); i += 2
        case "--req-kmer-matches" =>
          params = params.copy(requiredKmerMatches = args(i + 1).toInt); i += 2
        case "--xdrop" => params = params.copy(xdrop = args(i + 1).toInt); i += 2
        case "--max-kmer-per-pos" =>
          params = params.copy(query =
            params.query.copy(maxKmerPerPos = args(i + 1).toInt)); i += 2
        case "--kmer-threshold" =>
          params = params.copy(query =
            params.query.copy(kmerThreshold = args(i + 1).toInt)); i += 2
        case "--no-mask" =>
          params = params.copy(query = params.query.copy(maskMode = false)); i += 1
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
    }
    // the two modes drive incompatible pipelines (MSA-profile vs per-query
    // revcomp); silently preferring one would drop the other request
    require(!(profileSearch && bothStrands),
      "--profile-search and --both-strands are mutually exclusive: a PSSM " +
        "profile has no nucleotide reverse complement")
    val spark = graft.Session(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
    val m8 =
      if (profileSearch)
        PetaSearch.easyProfileSearch(spark, queryFasta, targetFasta, params)
      else {
        val queries = graft.bio.Fasta.read(spark, queryFasta).cache()
        val targets =
          if (targetFasta == queryFasta) queries
          else graft.bio.Fasta.read(spark, targetFasta).cache()
        val alis =
          if (bothStrands)
            PetaSearch.searchBothStrands(spark, queries, targets, params)
          else PetaSearch.search(spark, queries, targets, params)
        outfmt.fold(PetaSearch.toM8(alis, queries, targets))(
          PetaSearch.toM8Custom(alis, queries, targets, _))
      }
    PetaSearch.writeM8(m8, outDir)
    // the m8 write materialized every cached frame (both-strands corpus,
    // query tables); release them in case the session outlives this call
    spark.catalog.clearCache()
    println(s"[easy-petasearch] wrote ${spark.read.option("sep", "\t").csv(outDir).count()} alignments to $outDir")
    spark.stop()
  }
}
