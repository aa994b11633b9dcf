package perfbench

/** Generates the base input sets once per build:
  * `perfbench.Prep <cores> <sf> <outDir> [<sf> <outDir> ...]` writes every
  * `graft.datagen.DataGen` table as `<outDir>/<table>.parquet` for each
  * scale factor. run.py derives each seed's inputs from these sets. */
object Prep {
  def main(args: Array[String]): Unit = {
    val spark = Main.session(args(0).toInt)
    try args.drop(1).grouped(2).foreach { case Array(sf, outDir) =>
      graft.datagen.DataGen.generate(spark, sf.toDouble, outDir)
    } finally spark.stop()
  }
}
