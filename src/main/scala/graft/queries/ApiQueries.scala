package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.DataGenerator
import graft.datasets.Datasets
import graft.spec._

/** Driver-facing queries for the fluent `DataGenerator` API (FIXTURES.md §3
  * IOT spec), the standard dataset providers not covered by GenQueries, and
  * the DataAnalyzer code generators. All deterministic — oracles are
  * spec-derived constants in `SpecOracles`; each query folds hard shape/
  * bounds/cardinality invariants into BOOLEAN columns so regressions flip a
  * bool even before the pinned constants disagree.
  */
object ApiQueries {
  import Q._

  type Fn = (SparkSession, String) => DataFrame

  private def all(ok: Column): Column = sum(when(ok, 0L).otherwise(1L)) === 0L

  val queries: Map[String, Fn] = Map(

    // ------------------------------------------- fluent API: IOT spec (§3)
    "q_api_iot_fluent" -> ((s, _) => {
      // FIXTURES.md §3 / reference docs/source/APIDOCS.md:443-516: omitted
      // hash-based intermediates, weighted values, template phones, expr
      // columns, minute-interval timestamps — via the fluent builder.
      val countries = Seq("US", "UK", "DE", "FR", "JP", "CN", "IN", "BR", "IT",
        "ES", "NL", "SE", "NO", "DK", "FI", "PL", "AU", "CA", "MX")
      val weights = Seq(30.0, 8, 8, 8, 8, 10, 8, 4, 3, 3, 2, 1, 1, 1, 1, 1, 1, 1, 1)
      val df = DataGenerator(s, "device_data_set", rows = 20000, partitions = Some(8))
        .withColumn(ColumnSpec("internal_device_id", "bigint",
          ColumnStrategy.Range(0x1000000000000L, 0x1000000000000L + 99999L, Some(1)))
          .copy(uniqueValues = Some(10000L), omit = true))
        .withColumn(ColumnSpec("device_id", "string",
          ColumnStrategy.Expression("internal_device_id")).copy(format = Some("0x%013x")))
        .withColumn(ColumnSpec("country", "string",
          ColumnStrategy.Values(countries, weights.map(_.toDouble)))
          .copy(seedMode = SeedMode.FromColumns(Seq("internal_device_id"))))
        .withColumn(ColumnSpec("manufacturer", "string", ColumnStrategy.Values(
          Seq("Delta corp", "Xyzzy Inc.", "Lakehouse Ltd", "Acme Corp", "Embanks Devices")))
          .copy(seedMode = SeedMode.FromColumns(Seq("internal_device_id"))))
        .withColumn(ColumnSpec("line", "string", ColumnStrategy.Values(
          Seq("alpha", "bravo", "charlie", "delta", "echo")))
          .copy(seedMode = SeedMode.FromColumns(Seq("manufacturer")), omit = true))
        .withColumn(ColumnSpec("model_ser", "int", ColumnStrategy.Range(1, 11, Some(1)))
          .copy(seedMode = SeedMode.FromColumns(Seq("device_id")), omit = true))
        .withExprColumn("model_line", "concat(line, '#', model_ser)", Some("string"))
        .withColumn("event_type", "string", ColumnStrategy.Values(
          Seq("activation", "deactivation", "plan change", "telecoms activity",
            "internet activity", "device error"),
          Seq(0.1, 0.05, 0.05, 0.3, 0.4, 0.1)))
        .withColumn("event_ts", "timestamp", ColumnStrategy.Timestamp(
          java.time.Instant.parse("2020-01-01T01:00:00Z"),
          java.time.Instant.parse("2020-12-31T23:59:00Z"), 60))
        .build()
      one(df, "n" -> count(lit(1)),
        "cols" -> lit(df.columns.length.toLong),
        "device_shape" -> all(col("device_id").rlike("^0x[0-9a-f]{13}$")),
        "device_cardinality" -> countDistinct(col("device_id")).between(8000L, 10000L),
        "model_shape" -> all(col("model_line").rlike("^(alpha|bravo|charlie|delta|echo)#([1-9]|1[01])$")),
        // line is hash-derived from manufacturer's value: functional dependency
        "line_functional" -> (countDistinct(struct(col("manufacturer"),
          split(col("model_line"), "#").getItem(0))) <= countDistinct(col("manufacturer"))),
        "country_in_set" -> all(col("country").isin(countries: _*)),
        "us_share_10pct" -> sum(when(col("country") === "US", 1L).otherwise(0L))
          .between(20000L * 3 / 20, 20000L * 4 / 10),
        "ts_minute" -> all(second(col("event_ts")) === 0),
        "ts_bounds" -> all(col("event_ts").between("2020-01-01 01:00:00", "2020-12-31 23:59:00")))
    }),

    // ---------------------------------- fluent API: schema + bulk specs
    "q_api_schema_specs" -> ((s, _) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("score_a", DoubleType),
        StructField("score_b", DoubleType), StructField("label", StringType)))
      val df = DataGenerator(s, "from_schema", rows = 8000, partitions = Some(4))
        .withSchema(schema)
        .withColumnSpecs(pattern = Some("score_.*"),
          strategy = ColumnStrategy.Range(0, 1, continuous = true))
        .withColumnSpec("label",
          _.copy(strategy = ColumnStrategy.Values(Seq("cat", "dog", "bird"))))
        .build()
      one(df, "n" -> count(lit(1)),
        "cols" -> lit(df.columns.length.toLong),
        "scores_in_unit" -> all(col("score_a").between(0, 1) && col("score_b").between(0, 1)),
        "scores_differ" -> (countDistinct(struct(col("score_a"), col("score_b"))) > 7900L),
        "labels_ok" -> all(col("label").isin("cat", "dog", "bird")),
        "id_seq" -> all(col("id") >= 0))
    }),

    // --------------------------------------------------- dataset providers
    "q_dataset_user" -> ((s, _) => {
      val df = Datasets("basic/user").get(s, rows = 10000)
      one(df, "n" -> count(lit(1)),
        "id_distinct" -> countDistinct(col("customer_id")),
        "email_shape" -> all(col("email").rlike("^[a-z.]+@[a-z.]+\\.(com|co\\.u[a-z])$")),
        "ip_shape" -> all(col("ip_addr").rlike("^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$")),
        "phone_shape" -> all(col("phone").rlike("^(\\([0-9]{3}\\)-|1\\([0-9]{3}\\) |[0-9]{3}-)[0-9]{3}-[0-9]{4}$")))
    }),

    "q_dataset_stock_ticker" -> ((s, _) => {
      val df = Datasets("basic/stock_ticker").get(s, rows = 10000,
        options = Map("numSymbols" -> "50"))
      one(df, "n" -> count(lit(1)),
        "symbols" -> countDistinct(col("symbol")),
        "symbol_shape" -> all(col("symbol").rlike("^S[0-9]{4}$")),
        "hl_ordered" -> all(col("high") >= greatest(col("open"), col("close")) &&
          col("low") <= least(col("open"), col("close"))),
        "dates_per_symbol" -> (countDistinct(col("trade_date")) === 200L),
        "volume_pos" -> all(col("volume") >= 1000L && col("volume") <= 10000000L))
    }),

    "q_dataset_geometries" -> ((s, _) => {
      val pts = Datasets("basic/geometries").get(s, rows = 3000)
      val polys = Datasets("basic/geometries").get(s, rows = 2000,
        options = Map("geometryType" -> "polygon", "maxVertices" -> "3"))
      val num = "-?[0-9]+(\\.[0-9]+)?([Ee]-?[0-9]+)?"
      val pair = s"$num $num"
      one(pts.select(col("wkt")).union(polys.select(col("wkt"))),
        "n" -> count(lit(1)),
        "points_ok" -> sum(when(col("wkt").rlike(s"^POINT\\($pair\\)$$"), 1L).otherwise(0L)),
        "polys_ok" -> sum(when(
          col("wkt").rlike(s"^POLYGON\\(\\($pair, $pair, $pair, $pair\\)\\)$$"), 1L).otherwise(0L)))
    }),

    "q_dataset_telematics" -> ((s, _) => {
      val df = Datasets("basic/telematics").get(s, rows = 10000,
        options = Map("numDevices" -> "500"))
      one(df, "n" -> count(lit(1)),
        "devices_le" -> (countDistinct(col("device_id")) <= 500L),
        "lat_bounds" -> all(col("lat").between(-90, 90)),
        "lon_bounds" -> all(col("lon").between(-180, 180)),
        "speed_bounds" -> all(col("speed_kmh").between(0, 180)),
        "heading_bounds" -> all(col("heading").between(0, 359)),
        "mostly_on" -> (sum(when(col("engine_on"), 1L).otherwise(0L)) > 7500L))
    }),

    "q_dataset_process_historian" -> ((s, _) => {
      val df = Datasets("basic/process_historian").get(s, rows = 10000)
      one(df, "n" -> count(lit(1)),
        "quality_set" -> all(col("quality").isin("GOOD", "UNCERTAIN", "BAD")),
        "mostly_good" -> (sum(when(col("quality") === "GOOD", 1L).otherwise(0L)) > 9200L),
        "value_bounds" -> all(col("value").between(0, 100)),
        // Normal(50,12): bulk of mass within one sigma-ish band
        "value_centered" -> (sum(when(col("value").between(26, 74), 1L).otherwise(0L)) > 9000L),
        "tag_shape" -> all(col("tag_name").rlike("^TAG-[0-9]{3}$")))
    }),

    "q_dataset_sales_order" -> ((s, _) => {
      val ts = Datasets("multi_table/sales_order").getTables(s, rows = 20000)
      val orphans =
        ts("base_orders").join(ts("customers"), Seq("customer_id"), "left_anti").count() +
        ts("base_order_line_items").join(ts("base_orders"), Seq("order_id"), "left_anti").count() +
        ts("base_order_line_items").join(ts("catalog_items"), Seq("item_id"), "left_anti").count() +
        ts("base_order_shipments").join(ts("carriers"), Seq("carrier_id"), "left_anti").count()
      val lineCount = ts("base_order_line_items").count()
      val invoiceLines = ts("invoices").agg(sum(col("line_count"))).collect()(0).getLong(0)
      val badCustomers = ts("customers").where(
        !col("sic_code").between(100, 9995) ||
        !col("payment_terms").isin("NET30", "NET60", "NET90", "PREPAID") ||
        !col("phone_number").rlike("^[0-9]{3}-[0-9]{3}-[0-9]{4}$") ||
        !col("num_employees").between(1, 10000)).count()
      val badPrices = ts("catalog_items")
        .where(!col("unit_price").between(BigDecimal("1.50"), BigDecimal("500.00"))).count()
      one(ts("base_order_line_items"),
        "n_lines" -> count(lit(1)),
        "orphans" -> lit(orphans),
        "invoice_covers_lines" -> lit(invoiceLines == lineCount),
        "qty_bounds" -> all(col("quantity").between(1, 10)),
        "customers_valid" -> lit(badCustomers == 0L),
        "prices_valid" -> lit(badPrices == 0L))
    }),

    // ------------------------------------------------- analyzer codegen
    "q_analyzer_script_schema" -> ((s, d) => {
      val schema = table(s, d, "lineitem").schema
      val code = graft.analyzer.DataAnalyzer.scriptDataGeneratorFromSchema(schema, "lineitem")
      val everyField = schema.fields.forall(f => code.contains(s""""${f.name}""""))
      one(table(s, d, "lineitem").limit(1),
        "has_all_fields" -> lit(everyField).cast("boolean"),
        "mentions_generator" -> lit(code.contains("DataGenerator(spark")).cast("boolean"),
        "covers_fields" -> lit(code.linesIterator.size >= schema.fields.length).cast("boolean"))
    }),

    "q_analyzer_script_data" -> ((s, d) => {
      val df = table(s, d, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
      val code = graft.analyzer.DataAnalyzer.scriptDataGeneratorFromData(df, "orders")
      // Data-driven script embeds observed min/max/cardinality.
      one(df.limit(1),
        "has_fields" -> lit(Seq("o_orderkey", "o_totalprice", "o_orderstatus")
          .forall(f => code.contains(f))).cast("boolean"),
        "has_range" -> lit(code.contains("Range")).cast("boolean"),
        "covers_fields" -> lit(code.linesIterator.size >= 3).cast("boolean"))
    }))
}
