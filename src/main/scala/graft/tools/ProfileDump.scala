package graft.tools

import graft.bio.{Fasta, Profiles}

/** Dev tool: build our PSSM from an aligned FASTA and dump the raw profile
  * record bytes — for byte-level comparison against a reference
  * `msa2profile` DB record (differential PSSM validation in
  * `tools/ref_regression.sh` territory).
  *
  * Usage: runMain graft.tools.ProfileDump <msa.fa> <out.bin> [matchMode]
  */
object ProfileDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileDump <msa.fa> <out.bin> [matchMode]")
    val matchMode = if (args.length > 2) args(2).toInt else 0
    val rows = Fasta.localRecords(scala.io.Source.fromFile(args(0)).getLines())
      .map(_._2)
    val prof = Profiles.fromAlignedSeqs(rows, matchMode = matchMode)
    java.nio.file.Files.write(java.nio.file.Paths.get(args(1)), prof)
    println(s"[profile-dump] ${rows.size} sequences -> " +
      s"${prof.length / Profiles.ReadInSize} positions, ${prof.length} bytes")
  }
}
