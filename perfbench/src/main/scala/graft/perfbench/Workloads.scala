package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{BpeTokenizer, DatetimeOps, Dedup, Geo, Graph, WordPieceTokenizer}
import graft.operators._
import graft.sources.Ingest

/** One public call into graft, timed on its own. `layer` names the graft
  * module the call enters; `run` returns the call's result, which the
  * harness forces (a DataFrame) or fingerprints (anything else). */
final case class Call(name: String, layer: String, run: () => Any)

/** A workload: the calls of one pass, built against the seeded tables
  * in `dir`, and the oracle-checked queries whose outputs are compared
  * with DuckDB after timing. */
final case class Workload(calls: Seq[Call], oracleQueries: Seq[String])

object Workloads {
  def apply(name: String, spark: SparkSession, dir: String, work: String): Workload = name match {
    case "fe_pipeline" => fePipeline(spark, dir, work)
    case "profile_calls" => profileCalls(spark, dir)
    case "graph_iterative" => graphIterative(spark, dir)
    case "text_curation" => textCuration(spark, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    Ingest.readDataset(spark, s"$dir/$table.parquet", "parquet")

  /** The reference configs.yaml composition through Workflow.run: ETL,
    * stats with save_stats_path, quality treatments, binning + label
    * encoding, correlation + IV, drift against the seeded baseline, and
    * the final write. The call's output is the written dataset. */
  private def fePipeline(spark: SparkSession, dir: String, work: String): Workload = {
    val yaml = s"""input_dataset:
                  |  read_dataset:
                  |    file_path: "$dir/orders.parquet"
                  |    file_type: parquet
                  |  delete_column: [o_orderdate]
                  |  rename_column: {o_orderpriority: priority}
                  |  recast_column: {o_custkey: double}
                  |stats_generator:
                  |  list_of_cols: [o_totalprice]
                  |  metrics: [central_tendency, measures_of_dispersion]
                  |  save_stats_path: "$work/stats"
                  |quality_checker:
                  |  duplicate_detection: {list_of_cols: all, treatment: true}
                  |  nullRows_detection: {treatment: true, treatment_threshold: 0.75}
                  |  outlier_detection: {list_of_cols: [o_totalprice], treatment: true,
                  |    treatment_method: value}
                  |  nullColumns_detection: {list_of_cols: [o_totalprice], treatment: true,
                  |    treatment_method: MMM}
                  |transformers:
                  |  attribute_binning: {list_of_cols: [o_totalprice],
                  |    method_type: equal_range, bin_size: 5}
                  |  cat_to_num_unsupervised: {list_of_cols: [priority]}
                  |association_evaluator:
                  |  correlation_matrix: {list_of_cols: [o_totalprice, o_custkey]}
                  |  IV_calculation: {list_of_cols: [priority], label_col: o_orderstatus,
                  |    event_label: F}
                  |drift_detector:
                  |  source_path: "$dir/drift_baseline.parquet"
                  |  list_of_cols: [o_totalprice]
                  |write_main:
                  |  file_path: "$work/out"
                  |""".stripMargin
    Workload(
      Seq(Call("workflow_run", "workflow", () => {
        graft.workflow.Workflow.run(spark, yaml)
        spark.read.parquet(s"$work/out")
      })),
      Seq("q_workflow_full"))
  }

  /** A notebook session: the tables are read once per pass, then one-off
    * analyzer, transformer, datetime and geo calls over them. */
  private def profileCalls(spark: SparkSession, dir: String): Workload = {
    var li, ord, cust: DataFrame = null
    val ctCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val custPts = () => cust
      .withColumn("lat", expr("((c_custkey * 7) % 160) - 80 + 0.25"))
      .withColumn("lon", expr("((c_custkey * 13) % 340) - 170 + 0.25"))
    def op(name: String)(f: => Any) = Call(name, "operators", () => f)
    def fn(name: String)(f: => Any) = Call(name, "functions", () => f)
    val calls = Seq(
      Call("read_tables", "sources", () => {
        li = read(spark, dir, "lineitem"); ord = read(spark, dir, "orders")
        cust = read(spark, dir, "customer")
        li.schema.size + ord.schema.size + cust.schema.size
      }),
      op("central_tendency")(StatsGenerator.centralTendency(li, ctCols)),
      op("dispersion")(StatsGenerator.measuresOfDispersion(li, ctCols)),
      op("percentiles")(StatsGenerator.measuresOfPercentiles(li, ctCols)),
      op("counts")(StatsGenerator.measuresOfCounts(ord, Seq("o_orderkey", "o_custkey", "o_totalprice"))),
      op("mode")(StatsGenerator.modeComputation(ord, Seq("o_orderstatus", "o_orderpriority"))),
      op("cardinality")(StatsGenerator.measuresOfCardinality(ord, Seq("o_orderstatus", "o_custkey"))),
      op("shape")(StatsGenerator.measuresOfShape(li, Seq("l_quantity", "l_extendedprice"))),
      op("duplicates")(QualityChecker.duplicateDetection(li, Seq("l_orderkey", "l_linenumber"))),
      op("null_rows")(QualityChecker.nullRowsDetection(ord, ord.columns.toSeq)),
      op("outliers")(QualityChecker.outlierDetection(li, Seq("l_quantity", "l_extendedprice"))),
      op("biasedness")(QualityChecker.biasednessDetection(ord, Seq("o_orderstatus", "o_orderpriority"), 0.3)),
      op("correlation")(Association.correlationMatrix(li, ctCols)),
      op("iv")(Association.ivCalculation(ord, Seq("o_orderpriority"), col("o_orderstatus") === "F")),
      op("drift")(Drift.driftStatistics(
        li.filter(col("l_shipdate") < lit("1997-07-01").cast("timestamp")),
        li.filter(col("l_shipdate") >= lit("1997-07-01").cast("timestamp")),
        Seq("l_quantity", "l_extendedprice"), binCount = 10, sampleCap = None)),
      op("binning_fit_apply")(Transformers.attributeBinning(li, Seq("l_quantity"), "equal_range", 10)),
      op("z_standardization")(Transformers.zStandardization(li, Seq("l_quantity", "l_tax"))),
      op("label_encoding")(Transformers.labelEncoding(ord, Seq("o_orderpriority"))),
      op("quantile_transform")(Transformers.quantileTransform(
        li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        Seq("l_quantity", "l_extendedprice"))),
      op("boxcox")(Transformers.boxcoxTransformation(
        li.select("l_orderkey", "l_linenumber", "l_extendedprice"), Seq("l_extendedprice"))._1),
      op("imputation_mmm")(Transformers.imputationMMM(ord, Seq("o_totalprice"), Nil)),
      fn("datetime_parts")(ord.select(col("o_orderkey"),
        DatetimeOps.timeUnitExtract(col("o_orderdate"), "quarter").as("q"),
        DatetimeOps.startOfMonth(col("o_orderdate")).as("som"),
        DatetimeOps.isWeekend(col("o_orderdate")).as("weekend"),
        DatetimeOps.timeDiff(col("o_orderdate"), lit("2000-01-01").cast("timestamp"), "days").as("age"))),
      fn("lagged_ts")(DatetimeOps.laggedTs(ord, "o_orderdate",
        orderCols = Seq("o_orderdate", "o_orderkey"), partitionCols = Seq("o_custkey"),
        tsDiffUnit = Some("days"))),
      fn("reverse_geocode")(Geo.reverseGeocode(custPts(), Seq("c_custkey"), "lat", "lon")),
      fn("geo_centroid")(Geo.centroid(custPts(), "c_nationkey", "lat", "lon")))
    Workload(calls, Seq("q_central_tendency", "q_correlation_matrix", "q_label_encoding",
      "q_drift_statistics", "q_binning_equal_range"))
  }

  /** The iterative graph family on the customer→supplier purchase graph. */
  private def graphIterative(spark: SparkSession, dir: String): Workload = {
    def purchases(mod: Int) = {
      val li = read(spark, dir, "lineitem"); val o = read(spark, dir, "orders")
      li.filter(col("l_orderkey") % mod === 0)
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), (col("l_suppkey") + lit(10000000L)).as("dst"))
    }
    def undirected(e: DataFrame) = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    def fn(name: String)(f: => Any) = Call(name, "functions", () => f)
    val calls = Seq(
      fn("page_rank")(Graph.pageRank(undirected(purchases(10)), iterations = 5)
        .select(col("node"), round(col("rank"), 9).as("rank"))),
      fn("connected_components")(Graph.connectedComponents(purchases(40), rounds = 5)))
    Workload(calls, Seq("q_pagerank", "q_connected_components"))
  }

  /** Web-corpus curation: exact, line, MinHash and SimHash dedup,
    * duplicated spans, and BPE / WordPiece training and encoding, called
    * as public functions (never through a query's fitted-model memo). */
  private def textCuration(spark: SparkSession, dir: String): Workload = {
    val docs = () => read(spark, dir, "documents")
    var bpe: Seq[BpeTokenizer.BpeMerge] = Nil
    var wp: Seq[WordPieceTokenizer.WpMerge] = Nil
    def fn(name: String)(f: => Any) = Call(name, "functions", () => f)
    val calls = Seq(
      fn("exact_dedup")(Dedup.exactDedup(docs(), "text", "doc_id")),
      fn("line_dedup")(Dedup.lineDedup(docs(), "text", "doc_id")),
      fn("minhash_near_duplicates")(Dedup.minhashNearDuplicates(docs(), "text", "doc_id")),
      fn("simhash_near_duplicates")(Dedup.simhashNearDuplicates(docs(), "text", "doc_id")),
      fn("duplicate_spans")(Dedup.duplicateSpans(docs(), "text", "doc_id", windowTokens = 8)),
      fn("bpe_train")({ bpe = BpeTokenizer.trainMerges(docs(), "text", numMerges = 10); bpe }),
      fn("bpe_encode")(BpeTokenizer.bpeEncode(docs(), "text", "doc_id", bpe)),
      fn("wordpiece_train")({ wp = WordPieceTokenizer.trainMerges(docs(), "text", numMerges = 10); wp }),
      fn("wordpiece_encode")(WordPieceTokenizer.wordPieceEncode(docs(), "text", "doc_id", wp)))
    Workload(calls, Seq("q_exact_dedup", "q_line_dedup", "q_minhash_neardup", "q_dup_spans"))
  }
}
