package graft.sources

/** A/B probe: row vs columnar GDX reader, on a value-only scan and a
  * label-heavy scan (r14: dim columns are dictionary-encoded in the
  * columnar reader — labels repeat heavily in real GDX data, so the
  * label scan is where the encoding pays). Results land in SCALE.md.
  */
object ColProbe {
  def main(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = graft.Sessions.build("local[4]", "4")
    val dir = java.nio.file.Files.createTempDirectory("colprobe").toString
    // 2M records, 5k distinct dim_1 labels (UEL table << records, the
    // real GDX shape), unique (dim_1, dim_2) key tuples
    spark.range(2000000L).select(
      format_string("k%04d", col("id") % 5000).as("dim_1"),
      format_string("t%08d", col("id")).as("dim_2"),
      col("id").cast("double").as("value"))
      .repartition(4)
      .write.format("gdx").mode("overwrite").option("symbol", "s").save(dir)
    def timed(label: String, vec: Boolean,
        agg: org.apache.spark.sql.DataFrame => Unit): Double = {
      val df = spark.read.format("gdx").option("symbol", "s")
        .option("vectorized", vec.toString).load(dir)
      val times = (1 to 4).map { _ =>
        val t0 = System.nanoTime()
        agg(df)
        (System.nanoTime() - t0) / 1e9
      }
      val best = times.min
      println(f"[$label] best ${2000000 / best / 1e6}%.2f M rec/s ($best%.2f s)")
      best
    }
    def valueOnly(df: org.apache.spark.sql.DataFrame): Unit =
      df.agg(sum("value")).head.getDouble(0): Unit
    def labelHeavy(df: org.apache.spark.sql.DataFrame): Unit =
      df.agg(max(length(col("dim_1"))), max(col("dim_1")), sum("value"))
        .head: Unit
    val rv = timed("row/value     ", vec = false, valueOnly)
    val cv = timed("col/value     ", vec = true, valueOnly)
    val rl = timed("row/label     ", vec = false, labelHeavy)
    val cl = timed("col/label     ", vec = true, labelHeavy)
    println(f"[speedup] value ${rv / cv}%.2fx, label ${rl / cl}%.2fx")
    spark.stop()
  }
}
