package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gdx.{Gdx, GdxCodec}
import CheckFailed.check

final class CheckFailed(msg: String) extends Exception(msg)

object CheckFailed {
  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
}

/** One workload: a set-up, a warm-up, and an endless seeded sequence of
  * calls issued by one client thread, each waiting for the previous one.
  * A call times only its user-visible part; the output check runs after
  * the timer stops and throws [[CheckFailed]] on a wrong result.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String,
    val cores: Int, val tracer: Tracer) {

  /** Call kinds of one round, in seeded order. */
  def round(rng: java.util.Random): Seq[String]
  def setup(): Unit
  /** One call of each kind, untimed. */
  def warmup(rng: java.util.Random): Unit
  /** Calls for a window of `seconds`: the work a 4-core host does in
    * that time, fixed so every run times the same calls whatever the
    * host's speed at the moment.
    */
  def callsFor(seconds: Double): Int
  /** Runs one call and returns the seconds of its timed part. */
  def call(kind: String, rng: java.util.Random): Double

  /** Rows a call needed, for the decoded-records useful ratio (0 = n/a). */
  var lastUseful: Long = 0L

  /** The end-to-end values other than set-up: p50_ms, tail_ms, rec_per_s. */
  def endToEnd(s: Samples): Map[String, Double]
  /** The detailed metrics of this workload: name → (value, unit). */
  def details(s: Samples): Seq[(String, Double, String)]
  /** Direct codec calls for the gdx.* layer metrics (traced runs). */
  def codecProbe(): Map[String, Double] = Map.empty
  /** sources.* layer metrics gathered during the traced calls. */
  def sourceMetrics(plans: Seq[(String, Seq[Int])]): Map[String, Double] = Map.empty

  /** Records decoded by the timed parts of the current call, for the
    * gdx.records_decoded layer metric; output checks do not count.
    */
  var lastDecoded: Long = 0L

  protected def timed[T](name: String)(body: => T): (T, Double) = {
    val d0 = GdxCodec.decodedRecords.sum()
    val t0 = System.nanoTime()
    val r = tracer.span("action", name)(body)
    val secs = (System.nanoTime() - t0) / 1e9
    lastDecoded += GdxCodec.decodedRecords.sum() - d0
    (r, secs)
  }

  protected def shuffled(rng: java.util.Random, xs: Seq[String]): Seq[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  protected def checked[T](name: String)(body: => T): T = tracer.span("check", name)(body)
}

/** Seconds per call kind. */
final class Samples {
  val byKind: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.Map.empty
  def add(kind: String, secs: Double): Unit = byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += secs
  def apply(kind: String): Seq[Double] = byKind.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it,
    * and its percentile; with ten or fewer samples, the slowest one.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (s.last, 100.0) else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

/** Ingest and analysis over a generated model-output dataset: the
  * analyst's label slices, full aggregates and scenario diff, mixed
  * with re-writes of the symbol through the sharded writer and of a
  * 200k-record parameter through the singleFile writer.
  */
final class GdxSession(spark: SparkSession, seed: Long, work: String, cores: Int, tracer: Tracer)
    extends Workload(spark, seed, work, cores, tracer) {

  val data: ModelData = ModelData.standard(seed)
  val pathA = s"$work/scenario_a"
  val pathB = s"$work/scenario_b"
  val ingest = s"$work/ingest"
  val single = s"$work/single/p.gdx"
  private lazy val levelTotal = data.periodTotals.values.sum
  private lazy val paramTotals = ModelData.parameterTotals
  private var diffChecked = false
  /** (shards, bytes) of each sharded write. */
  val writes: mutable.ArrayBuffer[(Int, Long)] = mutable.ArrayBuffer.empty

  val kinds: Seq[String] = Seq("slice", "xslice", "agg", "diff", "sharded", "single")

  def round(rng: java.util.Random): Seq[String] = shuffled(rng,
    Seq.fill(10)("slice") ++ Seq.fill(3)("xslice") ++ Seq.fill(4)("agg") ++ Seq("diff", "sharded", "single"))

  /** One 20-call round per 5 s of window (a round takes about 5 s). */
  def callsFor(seconds: Double): Int = 20 * math.max(1, math.round(seconds / 5).toInt)

  private def writeX(df: DataFrame, path: String): Unit =
    df.write.format("gdx").mode("overwrite").option("symbol", "x").option("symbolType", "variable").save(path)

  def setup(): Unit = {
    writeX(data.frame(spark, scenarioB = false, cores), pathA)
    writeX(data.frame(spark, scenarioB = true, cores), pathB)
    new File(single).getParentFile.mkdirs()
  }

  def warmup(rng: java.util.Random): Unit = kinds.foreach(call(_, rng))

  private def x: DataFrame = Gdx.symbol(spark, pathA, "x")

  private def perPeriod(df: DataFrame): Map[String, Double] =
    df.groupBy("dim_3").agg(sum("level")).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap

  def call(kind: String, rng: java.util.Random): Double = kind match {
    case "slice" =>
      val r = rng.nextInt(data.nRegions)
      val (got, secs) = timed(kind)(perPeriod(x.filter(col("dim_1") === data.regions(r))))
      lastUseful = data.nTechs.toLong * data.nPeriods
      checked(kind)(check(got == data.regionSlice(r), s"dim_1 slice ${data.regions(r)}"))
      secs
    case "xslice" =>
      val t = rng.nextInt(data.nTechs)
      val (got, secs) = timed(kind)(perPeriod(x.filter(col("dim_2") === data.techs(t))))
      lastUseful = data.nRegions.toLong * data.nPeriods
      checked(kind)(check(got == data.techSlice(t), s"dim_2 slice ${data.techs(t)}"))
      secs
    case "agg" =>
      val (got, secs) = timed(kind)(perPeriod(x))
      lastUseful = data.records
      checked(kind)(check(got == data.periodTotals, "full-symbol aggregate"))
      secs
    case "diff" =>
      val ((d, n), secs) = timed(kind) {
        val d = Gdx.diff(spark, pathA, pathB)
        (d, d.count())
      }
      lastUseful = 2 * data.records
      checked(kind) {
        check(n == data.records / 100, s"diff returned $n rows, planted ${data.records / 100}")
        // the full key comparison collects every row: once per run
        if (!diffChecked) {
          val rows = d.select("key", "status").collect()
          check(rows.forall(_.getString(1) == "chg") && rows.map(_.getString(0)).toSet == data.plantedKeys,
            "diff keys differ from the planted changes")
          diffChecked = true
        }
      }
      secs
    case "sharded" =>
      val df = data.frame(spark, scenarioB = false, cores)
      val (_, secs) = timed(kind)(writeX(df, ingest))
      lastUseful = 0L
      checked(kind) {
        writes += ((Probe.shards(ingest).size, Probe.dirBytes(ingest)))
        val r = Gdx.symbol(spark, ingest, "x").agg(count(lit(1)), sum("level")).head()
        check(r.getLong(0) == data.records && r.getDouble(1) == levelTotal,
          s"sharded round trip: ${r.getLong(0)} records, level sum ${r.getDouble(1)}")
      }
      secs
    case "single" =>
      val df = ModelData.parameterFrame(spark, data, cores)
      val (_, secs) = timed(kind)(df.write.format("gdx").mode("overwrite")
        .option("symbol", "p").option("singleFile", "true").save(single))
      lastUseful = 0L
      checked(kind) {
        val r = Gdx.symbol(spark, single, "p").agg(count(lit(1)), sum("value")).head()
        check(r.getLong(0) == paramTotals._1 && r.getDouble(1) == paramTotals._2,
          s"singleFile round trip: ${r.getLong(0)} records, value sum ${r.getDouble(1)}")
      }
      secs
  }

  def endToEnd(s: Samples): Map[String, Double] = Map(
    "p50_ms" -> Stats.median(s("slice")) * 1000,
    "tail_ms" -> Stats.tail(s("slice"))._1 * 1000,
    "rec_per_s" -> data.records / Stats.median(s("agg")))

  def details(s: Samples): Seq[(String, Double, String)] = {
    def n(k: String) = s"(n=${s(k).size})"
    val (tail, pct) = Stats.tail(s("slice"))
    Seq((s"slice_p50_ms ${n("slice")}", Stats.median(s("slice")) * 1000, "ms"),
      (f"slice_tail_ms (p$pct%.0f)", tail * 1000, "ms"),
      (s"xslice_p50_ms ${n("xslice")}", Stats.median(s("xslice")) * 1000, "ms"),
      (s"scan_rec_per_s ${n("agg")}", data.records / Stats.median(s("agg")), "1/s"),
      (s"diff_s ${n("diff")}", Stats.median(s("diff")), "s"),
      (s"write_rec_per_s ${n("sharded")}", data.records / Stats.median(s("sharded")), "1/s"),
      (s"single_write_rec_per_s ${n("single")}", paramTotals._1 / Stats.median(s("single")), "1/s"),
      ("stored_bytes_per_rec", Probe.dirBytes(ingest).toDouble / data.records, "B/rec"))
  }

  override def codecProbe(): Map[String, Double] = Probe.codec(data, s"$work/codec", tracer)

  override def sourceMetrics(plans: Seq[(String, Seq[Int])]): Map[String, Double] = {
    val shards = Probe.shards(pathA).size.toDouble
    val planned = plans.collect { case ("slice", scans) if scans.nonEmpty => scans.sum.toDouble }
    val p = if (planned.isEmpty) 0.0 else planned.sum / planned.size
    val w = writes.toSeq
    Map("sources.shards" -> shards, "sources.partitions_planned" -> p,
      "sources.prune_ratio" -> (if (shards > 0) 1 - p / shards else 0.0),
      "sources.write_shards" -> (if (w.isEmpty) 0.0 else w.map(_._1).sum.toDouble / w.size),
      "sources.write_bytes" -> (if (w.isEmpty) 0.0 else w.map(_._2).sum.toDouble / w.size))
  }
}

/** The registered operators, called through SparkEntry.queries on the
  * sf0.01 fixture tables in `dataDir`; one call is one key, and a round
  * is one pass over the seven keys in a seeded order.
  */
final class OpsMix(spark: SparkSession, seed: Long, work: String, cores: Int, tracer: Tracer,
    val dataDir: String) extends Workload(spark, seed, work, cores, tracer) {

  private val queries = graft.SparkEntry.queries

  def round(rng: java.util.Random): Seq[String] = shuffled(rng, OpsData.keys)

  def setup(): Unit = Seq("customer", "documents", "embeddings").foreach { t =>
    check(new File(s"$dataDir/$t.parquet").isFile, s"missing table $dataDir/$t.parquet")
  }

  def warmup(rng: java.util.Random): Unit = OpsData.keys.foreach(call(_, rng))

  /** One pass per 20 s of window, at least one (a pass takes 12-15 s). */
  def callsFor(seconds: Double): Int = OpsData.keys.size * math.max(1, math.round(seconds / 20).toInt)

  def call(key: String, rng: java.util.Random): Double = {
    lastUseful = 0L
    val (rows, secs) = timed(key)(queries(key)(spark, dataDir).collect())
    graft.Sessions.releaseCheckpoints(spark)
    checked(key) {
      val got = (rows.length.toLong, OpsData.hash(rows))
      check(OpsData.expected.get(key).contains(got),
        s"""$key: got (${got._1}L, "${got._2}"), recorded ${OpsData.expected.get(key)}""")
    }
    secs
  }

  /** Seconds of one pass: the sum over keys of each key's median call. */
  private def pass(s: Samples): Double = OpsData.keys.map(k => Stats.median(s(k))).sum

  /** Seconds of the slowest single operator call. */
  private def slowest(s: Samples): Double = Stats.tail(OpsData.keys.flatMap(s(_)))._1

  // a run times one pass: with seven single calls of unequal keys, the
  // median call is whichever key lands in the middle, so the pass is
  // the steady statistic and rec_per_s is its reciprocal
  def endToEnd(s: Samples): Map[String, Double] = Map(
    "p50_ms" -> pass(s) * 1000,
    "tail_ms" -> slowest(s) * 1000,
    "rec_per_s" -> OpsData.inputRows / pass(s))

  def details(s: Samples): Seq[(String, Double, String)] =
    Seq((s"mix_pass_s (n=${s(OpsData.keys.head).size})", pass(s), "s"),
      ("slowest_call_ms", slowest(s) * 1000, "ms")) ++
      OpsData.keys.map(k => (s"${k}_s", Stats.median(s(k)), "s"))
}

/** Untimed measurements on files: shard listing, bytes on disk, and
  * the direct codec calls behind the gdx.* layer metrics.
  */
object Probe {
  def shards(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).map(_.toSeq).getOrElse(Nil).filter(_.getName.endsWith(".gdx"))

  def dirBytes(dir: String): Long = {
    val f = new File(dir)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(c => dirBytes(c.getPath)).sum
  }

  /** Encode, eager read and streaming decode of one 100k-record shard
    * (the first 50 regions), three times each; medians.
    */
  def codec(data: ModelData, dir: String, tracer: Tracer): Map[String, Double] = {
    new File(dir).mkdirs()
    val c = data.container(0 until 50)
    val n = c.symbols.head.records.size.toDouble
    val path = s"$dir/x.gdx"
    def rep(name: String)(body: => Unit): Double = Stats.median((1 to 3).map { _ =>
      tracer.op(s"codec_$name") {
        val t0 = System.nanoTime()
        tracer.span("codec", name)(body)
        (System.nanoTime() - t0) / 1e9
      }
    })
    val enc = rep("write")(GdxCodec.write(c, path))
    val read = rep("read")(check(GdxCodec.read(path).symbols.head.records.size == n, "codec read"))
    val dec = rep("openRecordStream") {
      val h = GdxCodec.readHeader(path)
      val s = GdxCodec.openRecordStream(path, h, h.metas.head)
      var k = 0L
      try while (s.hasNext) { s.next(); k += 1 } finally s.close()
      check(k == n, "codec stream")
    }
    Map("gdx.encode_rec_per_s" -> n / enc, "gdx.decode_rec_per_s" -> n / dec,
      "gdx.read_rec_per_s" -> n / read, "gdx.bytes_per_rec" -> new File(path).length() / n)
  }
}
