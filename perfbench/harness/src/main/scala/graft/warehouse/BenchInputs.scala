package graft.warehouse

import java.nio.file.Path

/** Benchmark-side access to the scaled fixture generator: the LFB corpus
  * for row ids `[startId, startId + n)` plus the three grid-bounded
  * auxiliary inputs, written under `dir` exactly as `Fixtures.writeScaled`
  * lays them out. Lives in the program's package only because the aux
  * writer is package-private; it adds no behaviour of its own.
  */
object BenchInputs {
  def write(spark: org.apache.spark.sql.SparkSession, dir: Path, n: Long,
            startId: Long): Pipeline.Inputs = {
    Fixtures.writeScaledLfbSpark(spark, dir.resolve("lfb-calls.csv").toString,
      n, startId)
    Fixtures.writeScaledAux(dir)
  }
}
