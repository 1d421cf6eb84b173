package graft.tools

import graft.bio.{Fasta, KmerIndex, SraInterop}

/** Export a FASTA to the reference's NATIVE formats — SRA DB
  * (`convert2sradb` layout) and k-mer table (`createkmertable` layout) —
  * via [[SraInterop.writeSraDb]]/[[SraInterop.writeKmerTable]].
  *
  * Exists for the interop leg of the differential regression
  * (`tools/ref_regression.sh`): the real `srasearch` binary consumes these
  * files, which validates the writers against the reference READER rather
  * than against our own frozen byte goldens.
  *
  * Usage: runMain graft.tools.ExportNative <fasta> <outDbBase> [k]
  *   writes <outDbBase>(.index,_h,_h.index,.dbtype) and
  *   <outDbBase>_ktable(+_ids).
  */
object ExportNative {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExportNative <fasta> <outDbBase> [k]")
    val (fasta, outBase) = (args(0), args(1))
    val k = if (args.length > 2) args(2).toInt else KmerIndex.DefaultK
    val spark = graft.Session(
      sys.env.getOrElse("SPARK_MASTER", s"local[${graft.Session.cpus}]"))
    try {
      val seqs = Fasta.read(spark, fasta).cache()
      SraInterop.writeSraDb(seqs, outBase)
      val index = KmerIndex.buildWithPos(seqs, k)
      SraInterop.writeKmerTable(index, s"${outBase}_ktable")
      println(s"[export-native] wrote $outBase (+_h, .index, .dbtype) " +
        s"and ${outBase}_ktable(+_ids), ${seqs.count()} sequences")
    } finally spark.stop()
  }
}
