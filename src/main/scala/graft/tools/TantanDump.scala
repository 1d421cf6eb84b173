package graft.tools

import graft.bio.{Fasta, Matrices, Tantan}

/** Dev tool: per-sequence masked-position bitmaps from our tantan model,
  * same format as the reference-probe harness — for differential masking
  * comparison against `tantan::maskSequences`.
  *
  * Usage: runMain graft.tools.TantanDump <fasta>
  */
object TantanDump {
  def main(args: Array[String]): Unit = {
    val m = Matrices.vtml80Seed
    val out = new StringBuilder
    Fasta.localRecords(scala.io.Source.fromFile(args(0)).getLines()).foreach {
      case (name, seq) =>
        val ords = seq.map(c => m.aa2num(c & 0xff)).toArray
        val masked = Tantan.mask(ords, m)
        out ++= name
        out += ' '
        ords.indices.foreach(i => out += (if (masked(i) != ords(i)) '1' else '0'))
        out += '\n'
    }
    print(out)
  }
}
