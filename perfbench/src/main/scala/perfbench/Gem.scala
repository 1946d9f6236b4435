package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

import graft.ops.{GemPipeline, TrackerConfigs}
import graft.ops.GemPipeline.TrackerConfig
import graft.sources.{CountryDim, Csv, Excel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The GEM wrangle as the reference runs it: eight `.xlsx` workbooks,
  * each tracker through `wrangle` and `finalizeSchema` to its CSV, then
  * the totals job over the tracker CSVs read back. After the first load
  * a sequence of single-tracker snapshot drops lands; each refreshes
  * that tracker's CSV and reruns the totals.
  */
object Gem {

  /** The column types `finalizeSchema` writes, for reading CSVs back. */
  val FinalSchema: StructType = StructType(GemPipeline.FinalColumns.map { c =>
    val t = c match {
      case "production_year" => IntegerType
      case "workforce_size" | "capacity" | "plant_age_years" | "plant_age_rank" |
           "capacity_factor" | "emission_factor" => DoubleType
      case _ => StringType
    }
    StructField(c, t)
  })

  private def tracker(run: Run, cfg: TrackerConfig, raw: DataFrame, out: String): Unit = {
    val fin = run.trace.span("ops.build") {
      GemPipeline.finalizeSchema(cfg, CountryDim.dim(run.spark))(GemPipeline.wrangle(cfg)(raw))
    }
    run.trace.span("sources.write")(Csv.write(fin, out))
  }

  private def totals(run: Run, trackerCsvs: Seq[String], out: String): Unit = {
    val spark = run.spark
    val (trackers, steel, factors) = run.trace.span("sources.read") {
      (trackerCsvs.map(p => Csv.read(spark, p, schema = Some(FinalSchema))),
        spark.read.parquet(s"${run.in}/steel.parquet"),
        spark.read.parquet(s"${run.in}/factors.parquet"))
    }
    val df = run.trace.span("ops.build")(GemPipeline.totals(trackers, steel, factors))
    run.trace.span("sources.write")(Csv.write(df, out))
  }

  def workbooks(run: Run): Unit = {
    val expected = Main.readJson(s"${run.in}/expected.json")
    val drops = expected.get("drops").elements().asScala.toSeq
      .map(d => (d.get("tracker").asText, d.get("snapshot").asInt))
    val byName = TrackerConfigs.all.map(c => c.name -> c).toMap
    val versions = TrackerConfigs.all.map(c => (c.name, 0)) ++ drops
    // Drops are staged beside the landing directory before the clock
    // starts; landing one is a rename, where its refresh latency begins.
    val staging = Files.createDirectories(Paths.get(run.work, "staging"))
    val landing = Files.createDirectories(Paths.get(run.work, "landing"))
    versions.foreach { case (name, k) =>
      Files.copy(Paths.get(run.in, s"$name-s$k.xlsx"), staging.resolve(s"$name-s$k.xlsx"))
    }
    val current = scala.collection.mutable.LinkedHashMap[String, Int]()
    def refresh(name: String, k: Int): Unit = {
      // Refresh latency is timed for the drops, not the first load.
      run.op(s"op.refresh.$name.s$k", refresh = k > 0) {
        val book = landing.resolve(s"$name.xlsx")
        Files.move(staging.resolve(s"$name-s$k.xlsx"), book, StandardCopyOption.REPLACE_EXISTING)
        val raw = run.trace.span("sources.excel") {
          Excel.read(run.spark, book.toString, "Data")
            .withColumn("Latitude", col("Latitude").try_cast("double"))
            .withColumn("Longitude", col("Longitude").try_cast("double"))
        }
        tracker(run, byName(name), raw, s"${run.work}/out/$name/s$k")
      }
      current(name) = k
    }
    def rerunTotals(d: Int): Unit = run.op(s"op.totals.d$d", refresh = false) {
      totals(run, TrackerConfigs.all.map(c => s"${run.work}/out/${c.name}/s${current(c.name)}"),
        s"${run.work}/out/totals/d$d")
    }
    TrackerConfigs.all.foreach(c => refresh(c.name, 0))
    rerunTotals(0)
    val totalsInputs = Seq.newBuilder[Seq[Int]]
    totalsInputs += TrackerConfigs.all.map(c => current(c.name))
    drops.zipWithIndex.foreach { case ((name, k), d) =>
      refresh(name, k)
      rerunTotals(d + 1)
      totalsInputs += TrackerConfigs.all.map(c => current(c.name))
    }
    run.layers("sources.excel_rows") = versions.map { case (name, k) =>
      expected.get("trackers").get(name).get(k).get("units").asDouble
    }.sum
    checks(run, versions, totalsInputs.result())
  }

  /** Every tracker CSV against the generator's row count and Σ capacity
    * per production year; every totals CSV against the sum of the
    * tracker snapshots it read plus the steel rows, with one company id
    * per company name and no row without an id.
    */
  private def checks(run: Run, versions: Seq[(String, Int)], totalsInputs: Seq[Seq[Int]]): Unit =
    run.afterwards {
      val spark = run.spark
      val expected = Main.readJson(s"${run.in}/expected.json")
      def answer(node: JsonNode): (Long, IndexedSeq[Double]) =
        (node.get("rows").asLong, node.get("cap_by_year").elements().asScala.map(_.asDouble).toIndexedSeq)
      val dir = regexp_extract(input_file_name(), "/out/([^/]+/[^/]+)/part-", 1)
      val found = spark.read.option("header", "true").csv(s"${run.work}/out/*/*")
        .groupBy(dir.as("dir"), col("production_year").cast("int").as("year"))
        .agg(count(lit(1)).as("n"), sum(col("capacity").cast("double")).as("cap"),
          count(when(col("company_id").isNull, 1)).as("no_id"))
        .collect()
        .groupBy(_.getString(0))
      val idClash = spark.read.option("header", "true").csv(s"${run.work}/out/totals/*")
        .groupBy(dir.as("dir"), col("company_name"))
        .agg(countDistinct(col("company_id")).as("ids"))
        .where(col("ids") > 1).groupBy("dir").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val years = 2023 to 2050

      def compare(opName: String, dirName: String, rows: Long, cap: IndexedSeq[Double]): Unit = {
        val got = found.getOrElse(dirName, Array.empty)
        val n = got.map(_.getLong(2)).sum
        run.expect(opName, n == rows, s"$dirName has $n rows, expected $rows")
        years.zip(cap).foreach { case (y, want) =>
          val have = got.find(r => !r.isNullAt(1) && r.getInt(1) == y)
            .map(r => if (r.isNullAt(3)) 0.0 else r.getDouble(3)).getOrElse(0.0)
          run.expect(opName, math.abs(have - want) <= 1e-9 * math.max(1.0, math.abs(want)),
            f"$dirName capacity in $y is $have%.6f, expected $want%.6f")
        }
      }

      val trackerAnswers = TrackerConfigs.all.map { c =>
        c.name -> expected.get("trackers").get(c.name).elements().asScala.map(answer).toIndexedSeq
      }.toMap
      var rolled = 0L
      versions.foreach { case (name, k) =>
        val (rows, cap) = trackerAnswers(name)(k)
        compare(s"op.refresh.$name.s$k", s"$name/s$k", rows, cap)
        rolled += found.getOrElse(s"$name/s$k", Array.empty).map(_.getLong(2)).sum
      }
      val (steelRows, steelCap) = answer(expected.get("steel"))
      totalsInputs.zipWithIndex.foreach { case (ks, d) =>
        val parts = TrackerConfigs.all.zip(ks).map { case (c, k) => trackerAnswers(c.name)(k) }
        val rows = parts.map(_._1).sum + steelRows
        val cap = years.indices.map(i => parts.map(_._2(i)).sum + steelCap(i))
        val opName = s"op.totals.d$d"
        compare(opName, s"totals/d$d", rows, cap)
        val noId = found.getOrElse(s"totals/d$d", Array.empty).map(_.getLong(4)).sum
        run.expect(opName, noId == 0, s"$noId totals rows have no company id")
        val clashes = idClash.getOrElse(s"totals/d$d", 0L)
        run.expect(opName, clashes == 0, s"$clashes company names map to more than one id")
      }
      run.layers("ops.rows_rolled") = rolled.toDouble
    }
}
