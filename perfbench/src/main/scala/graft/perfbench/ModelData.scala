package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gdx.{GdxContainer, GdxRecord, GdxSymbol, SymbolType}

/** Seeded model-output dataset for the GDX workloads: one 5-field
  * variable `x(region, tech, period)` over the full cross product, so
  * the record count is the same for every seed while the labels, the
  * values and the slice targets change with it.
  *
  * Every value is an integer-valued double, so sums are exact in any
  * order and the aggregates a Spark job returns can be compared for
  * equality with the sums computed here. Scenario B equals A except
  * that `level` is one higher on exactly 1% of the records (the
  * planted changes a diff must return).
  */
final class ModelData(val seed: Long, val nRegions: Int, val nTechs: Int,
    val nPeriods: Int) {

  val records: Long = nRegions.toLong * nTechs * nPeriods
  require(records % 100 == 0, "records must be a multiple of 100 for the 1% plant")

  private val rng = new java.util.Random(seed)

  // distinct lower-case labels: the manifest keeps lower-cased shard
  // ranges, so lower-case labels keep its order equal to the sort order
  private def labels(prefix: String, n: Int, len: Int): Vector[String] = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += prefix + Seq.fill(len)(alphabet.charAt(rng.nextInt(alphabet.length))).mkString
    seen.toVector
  }

  val regions: Vector[String] = labels("r", nRegions, 5)
  val techs: Vector[String] = labels("t", nTechs, 4)
  val periods: Vector[String] = Vector.tabulate(nPeriods)(p => s"y${2000 + java.lang.Math.floorMod(seed, 40L).toInt + p}")

  private val salt = java.lang.Math.floorMod(seed, 1000L)
  private val plantSalt = java.lang.Math.floorMod(seed * 7L + 3L, 100L)

  /** Record id in generation order: region-major, then tech, then period. */
  def id(r: Int, t: Int, p: Int): Long = (r.toLong * nTechs + t) * nPeriods + p

  def level(r: Int, t: Int, p: Int): Double =
    java.lang.Math.floorMod(r * 7919L + t * 6271L + p * 3037L +
      (r.toLong * t % 97) * 13L + (t.toLong * p % 89) * 7L + salt, 1000L).toDouble

  def marginal(r: Int, t: Int, p: Int): Double =
    (java.lang.Math.floorMod(r * 31L + t * 17L + p * 5L + salt, 7L) - 3).toDouble

  /** Exactly records/100 ids are planted: 7919 is coprime with 100. */
  def planted(id: Long): Boolean = java.lang.Math.floorMod(id * 7919L + plantSalt, 100L) == 0L

  val lower = 0.0
  val upper = 10000.0
  val scale = 1.0

  /** The same formulas as Spark columns over `spark.range(records)`. */
  def frame(spark: SparkSession, scenarioB: Boolean, partitions: Int): DataFrame = {
    val idc = col("id")
    val r = expr(s"id div ${nTechs.toLong * nPeriods}")
    val t = pmod(expr(s"id div $nPeriods"), lit(nTechs.toLong))
    val p = pmod(idc, lit(nPeriods.toLong))
    def label(v: Vector[String], i: Column): Column = element_at(typedLit(v.toArray), i.cast("int") + 1)
    val lvl = pmod(r * 7919L + t * 6271L + p * 3037L + pmod(r * t, lit(97L)) * 13L +
      pmod(t * p, lit(89L)) * 7L + salt, lit(1000L)).cast("double")
    val plant = pmod(idc * 7919L + plantSalt, lit(100L)) === 0L
    spark.range(0L, records, 1L, partitions).select(
      label(regions, r).as("dim_1"),
      label(techs, t).as("dim_2"),
      label(periods, p).as("dim_3"),
      (if (scenarioB) lvl + when(plant, 1.0).otherwise(0.0) else lvl).as("level"),
      (pmod(r * 31L + t * 17L + p * 5L + salt, lit(7L)) - 3).cast("double").as("marginal"),
      lit(lower).as("lower"), lit(upper).as("upper"), lit(scale).as("scale"))
  }

  /** Keys of the planted changes, in the diff's dot-joined form. */
  def plantedKeys: Set[String] = {
    val b = Set.newBuilder[String]
    for (r <- 0 until nRegions; t <- 0 until nTechs; p <- 0 until nPeriods
         if planted(id(r, t, p)))
      b += s"${regions(r)}.${techs(t)}.${periods(p)}"
    b.result()
  }

  /** Per-period level sums over the whole symbol (scenario A). */
  lazy val periodTotals: Map[String, Double] = {
    val acc = new Array[Double](nPeriods)
    for (r <- 0 until nRegions; t <- 0 until nTechs; p <- 0 until nPeriods)
      acc(p) += level(r, t, p)
    periods.zip(acc).toMap
  }

  /** Per-period level sums of one region (a dim_1 slice). */
  def regionSlice(r: Int): Map[String, Double] =
    periods.indices.map(p => periods(p) -> (0 until nTechs).map(level(r, _, p)).sum).toMap

  /** Per-period level sums of one technology (a dim_2 slice). */
  def techSlice(t: Int): Map[String, Double] =
    periods.indices.map(p => periods(p) -> (0 until nRegions).map(level(_, t, p)).sum).toMap

  /** The records of `regionsUsed` as one in-memory single-symbol
    * container, for direct codec calls.
    */
  def container(regionsUsed: Range): GdxContainer = {
    val uels = (regionsUsed.map(regions) ++ techs ++ periods).toVector
    val tBase = regionsUsed.size
    val pBase = tBase + nTechs
    val recs = Vector.newBuilder[GdxRecord]
    for ((r, ri) <- regionsUsed.zipWithIndex; t <- 0 until nTechs; p <- 0 until nPeriods)
      recs += GdxRecord(Array(ri, tBase + t, pBase + p),
        Array(level(r, t, p), marginal(r, t, p), lower, upper, scale))
    GdxContainer(uels = uels, symbols = Vector(GdxSymbol("x", SymbolType.Variable, 3,
      domains = Seq("region", "tech", "period"), records = recs.result())))
  }
}

object ModelData {
  /** The gdx workload's symbol: 250 × 40 × 50 = 500k records. */
  def standard(seed: Long): ModelData = new ModelData(seed, 250, 40, 50)

  /** The gdx workload's singleFile parameter: 200k records. */
  def parameterFrame(spark: SparkSession, m: ModelData, partitions: Int): DataFrame = {
    val n = 200000L
    val idc = col("id")
    spark.range(0L, n, 1L, partitions).select(
      element_at(typedLit(m.regions.toArray), expr("CAST(id div 1000 AS INT)") + 1).as("dim_1"),
      concat(lit("k"), lpad((idc % 1000L).cast("string"), 3, "0")).as("dim_2"),
      (pmod(idc * 104729L + 17L, lit(100003L)) / 8.0).as("value"))
  }

  /** Count and value sum of [[parameterFrame]], for the round-trip check. */
  def parameterTotals: (Long, Double) = {
    var s = 0.0
    var i = 0L
    while (i < 200000L) { s += java.lang.Math.floorMod(i * 104729L + 17L, 100003L) / 8.0; i += 1 }
    (200000L, s)
  }
}
