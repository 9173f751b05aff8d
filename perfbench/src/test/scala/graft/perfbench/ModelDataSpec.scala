package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gdx.Gdx

/** The seeded generator behind the GDX workloads: a seed fixes the
  * written bytes, another seed moves the labels and the slice targets,
  * and the Spark frame agrees with the sums the checks compare against.
  */
class ModelDataSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.Sessions.build("local[2]", "2")

  private def small(seed: Long) = new ModelData(seed, 20, 10, 5)

  /** Shard bytes in partition order, and the manifest with shard file
    * names (which carry a per-write random id) replaced by that order.
    */
  private def written(seed: Long): (Seq[Seq[Byte]], String) = {
    val dir = Files.createTempDirectory("perfbench-gen").toString + "/x"
    small(seed).frame(spark, scenarioB = false, 2).write.format("gdx").mode("overwrite")
      .option("symbol", "x").option("symbolType", "variable").save(dir)
    val shards = Probe.shards(dir).sortBy(_.getName.split("-")(2))
    val manifest = shards.zipWithIndex.foldLeft(
      new String(Files.readAllBytes(new File(dir, "_manifest.json").toPath), "UTF-8")) {
      case (m, (f, i)) => m.replace(f.getName, s"shard-$i")
    }
    (shards.map(f => Files.readAllBytes(f.toPath).toSeq), manifest)
  }

  test("the same seed writes byte-identical shards and manifest") {
    val (a, ma) = written(7)
    val (b, mb) = written(7)
    assert(a.nonEmpty)
    assert(a == b)
    assert(ma == mb)
  }

  test("another seed changes the labels, the values and the slice targets") {
    val (a, b) = (small(7), small(8))
    assert(a.regions.toSet.intersect(b.regions.toSet).isEmpty)
    assert(a.techs != b.techs)
    assert(a.periodTotals != b.periodTotals)
    // a slice target is drawn as an index from the seeded call stream
    def targets(m: ModelData) = {
      val rng = new java.util.Random(m.seed)
      Seq.fill(5)(m.regions(rng.nextInt(m.nRegions)))
    }
    assert(targets(a) != targets(b))
    assert(written(7) != written(8))
  }

  test("the frame holds the generator's records, sums and planted changes") {
    val m = small(11)
    val a = m.frame(spark, scenarioB = false, 2)
    val rows = a.collect()
    assert(rows.length == m.records)
    val idx = rows.map { r =>
      (m.regions.indexOf(r.getString(0)), m.techs.indexOf(r.getString(1)), m.periods.indexOf(r.getString(2)))
    }
    assert(idx.distinct.length == m.records && idx.forall(i => i._1 >= 0 && i._2 >= 0 && i._3 >= 0))
    rows.zip(idx).foreach { case (r, (ri, ti, pi)) =>
      assert(r.getDouble(3) == m.level(ri, ti, pi))
      assert(r.getDouble(4) == m.marginal(ri, ti, pi))
    }
    val b = m.frame(spark, scenarioB = true, 2)
    val changed = a.join(b, Seq("dim_1", "dim_2", "dim_3"))
      .filter(a("level") =!= b("level"))
      .select(concat_ws(".", col("dim_1"), col("dim_2"), col("dim_3"))).collect().map(_.getString(0)).toSet
    assert(changed == m.plantedKeys)
    assert(changed.size == m.records / 100)
  }

  test("a diff of the two written scenarios returns exactly the planted changes") {
    val m = small(12)
    val base = Files.createTempDirectory("perfbench-diff").toString
    Seq(false -> "a", true -> "b").foreach { case (sb, n) =>
      m.frame(spark, sb, 2).write.format("gdx").mode("overwrite")
        .option("symbol", "x").option("symbolType", "variable").save(s"$base/$n")
    }
    val d = Gdx.diff(spark, s"$base/a", s"$base/b").select("key", "status").collect()
    assert(d.forall(_.getString(1) == "chg"))
    assert(d.map(_.getString(0)).toSet == m.plantedKeys)
    val perPeriod = Gdx.symbol(spark, s"$base/a", "x").groupBy("dim_3").agg(sum("level"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(perPeriod == m.periodTotals)
  }
}
