package graft.tools

import graft.bio.{Fasta, Matrices, QueryTable}

/** Dev tool: similar-k-mer expansion sets for sampled windows, same format
  * as the reference-probe harness around `FixedKmerGenerator` — for the F2
  * differential (same top-k set contract).
  *
  * Usage: runMain graft.tools.KmerExpandDump <fasta> <kmerThr> <maxKmers>
  */
object KmerExpandDump {
  def main(args: Array[String]): Unit = {
    val m = Matrices.vtml80Seed
    val thr = args(1).toInt
    val maxKmers = args(2).toInt
    val k = 9
    val rows = Fasta.localRecords(scala.io.Source.fromFile(args(0)).getLines())
      .map(_._2)
    val out = new StringBuilder
    rows.zipWithIndex.foreach { case (seq, s) =>
      val ords = seq.map(c => m.aa2num(c & 0xff)).toArray
      var p = 0
      while (p + k <= ords.length) {
        val window = java.util.Arrays.copyOfRange(ords, p, p + k)
        if (!window.exists(_ >= 20)) {
          val cands = QueryTable.similarKmers(window, m, thr, maxKmers)
            .map { code =>
              var rem = code
              val buf = new Array[Char](k)
              var j = 0
              while (j < k) { buf(j) = m.alphabet((rem % 20).toInt); rem /= 20; j += 1 }
              new String(buf)
            }.distinct.sorted
          out ++= s"$s:$p"
          cands.foreach(c => out ++= s" $c")
          out += '\n'
        }
        p += 97
      }
    }
    print(out)
  }
}
