package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NullType
import graft.engine.Generator
import graft.io.PlanJson
import graft.plan.Planner
import graft.spec._

/** Driver-facing queries exercising every column-generation operator
  * (SURVEY.md §2.1-2.5). Generation is a pure function of
  * (seed, table, column, rowId) — fully deterministic and independent of
  * partitioning and of the sf directory — so each query returns a one-row
  * (or small ordered) frame of aggregates whose oracle is a spec-derived
  * constant (`SpecOracles`). Each query also folds hard
  * invariants (bounds, lattice membership, regex shape, orphan counts) into
  * BOOLEAN columns: any behavioral regression flips a bool and fails the
  * driver's hash compare even before the pinned constants disagree.
  */
object GenQueries {
  import Q._

  type Fn = (SparkSession, String) => DataFrame

  /** Invariant boolean: no row violates `ok` (coalesced so an empty input
    * passes vacuously instead of going null). */
  private def all(ok: Column): Column =
    coalesce(sum(when(ok, 0L).otherwise(1L)), lit(0L)) === 0L

  private def gen(s: SparkSession, t: TableSpec, seed: Long = 42L): DataFrame =
    Generator.generate(s, DataGenPlan(Seq(t), seed))(t.name)

  private def genPlan(s: SparkSession, seed: Long, ts: TableSpec*): Map[String, DataFrame] =
    Generator.generate(s, DataGenPlan(ts, seed))

  private def c(name: String, ddl: String, strat: ColumnStrategy): ColumnSpec =
    ColumnSpec(name, ddl, strat)

  val queries: Map[String, Fn] = Map(

    // ---------------------------------------------------------- sources
    "q_gen_source_batch" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 12345, Seq(c("id", "bigint", ColumnStrategy.Sequence(0, 1))),
        partitions = Some(8)))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("id")),
        "min_id" -> min(col("id")), "max_id" -> max(col("id")))
    }),

    "q_gen_partition_independence" -> ((s, _) => {
      // The same spec generated at 3 and at 13 partitions must produce
      // byte-identical values — the core 100-TB scale invariant.
      def at(p: Int) = gen(s, TableSpec("t", 5000, Seq(
        c("pk", "bigint", ColumnStrategy.Sequence()),
        c("v", "double", ColumnStrategy.Range(0, 1, continuous = true)),
        c("w", "string", ColumnStrategy.Pattern("W-{alpha:4}"))), partitions = Some(p)))
      val a = at(3); val b = at(13)
      val joined = a.alias("a").join(b.alias("b"), col("a.pk") === col("b.pk"))
      one(joined, "n" -> count(lit(1)),
        "identical" -> all(col("a.v") === col("b.v") && col("a.w") === col("b.w")))
    }),

    "q_gen_view_registration" -> ((s, _) => {
      gen(s, TableSpec("t", 777, Seq(c("k", "bigint", ColumnStrategy.Sequence()))))
        .createOrReplaceTempView("graft_q_view")
      s.sql("SELECT count(*) AS n, CAST(min(k) AS BIGINT) AS min_k FROM graft_q_view")
    }),

    "q_gen_sink_roundtrip" -> ((s, _) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
      val df = gen(s, TableSpec("t", 999, Seq(
        c("k", "bigint", ColumnStrategy.Sequence(5, 3)),
        c("v", "string", ColumnStrategy.Values(Seq("a", "b", "c"))))))
      graft.io.Writer.writeBatch(df, OutputDataset(s"$tmp/out", "parquet"))
      val back = s.read.parquet(s"$tmp/out")
      one(back, "n" -> count(lit(1)), "min_k" -> min(col("k")), "max_k" -> max(col("k")),
        "n_vals" -> countDistinct(col("v")))
    }),

    "q_gen_stream_parquet" -> ((s, d) => {
      // Streaming operator surface driven deterministically: a parquet file
      // stream processed with Trigger.AvailableNow into a memory sink. The
      // file-stream source wants a directory, so stage the file into one.
      val dir = java.nio.file.Files.createTempDirectory("graft_stream")
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$d/documents.parquet"),
        dir.resolve("part-0.parquet"))
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      val sdf = s.readStream.schema(schema).parquet(dir.toString)
        .where(col("doc_id").isNotNull)
      val q = sdf.writeStream.format("memory").queryName("graft_stream_q")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      one(s.table("graft_stream_q"), "n" -> count(lit(1)),
        "n_docs" -> countDistinct(col("doc_id")))
    }),

    // ------------------------------------------------------ DSv2 (SQL path)
    // The same plan built (a) purely through SQL — CREATE TABLE USING graft
    // + SELECT against the DSv2 source — and (b) through the programmatic
    // engine; bit_xor row-hash equality pins that the SQL path IS the same
    // generator (the source extracts the compiled Range->Project pipeline
    // and evaluates it per id-slice in its partition readers).
    "q_gen_dsv2" -> ((s, _) => {
      val spec = TableSpec("dsv2_t", 20000, Seq(
        c("k", "bigint", ColumnStrategy.Sequence()),
        c("v", "int", ColumnStrategy.Range(1, 100, Some(1))),
        c("tag", "string", ColumnStrategy.Values(Seq("a", "b", "c"))),
        c("label", "string", ColumnStrategy.Pattern("id-{digit:4}"))))
      val planJson = PlanJson.saveJson(DataGenPlan(Seq(spec), 42L))
      s.sql("DROP TABLE IF EXISTS graft_dsv2_q")
      s.sql("CREATE TABLE graft_dsv2_q USING graft OPTIONS (plan '" +
        planJson.replace("'", "''") + "')")
      val viaSql = s.table("graft_dsv2_q")
      def h(df: DataFrame): Long =
        df.agg(coalesce(expr("bit_xor(xxhash64(struct(*)))"), lit(0L))).head.getLong(0)
      val hashesMatch = h(viaSql) == h(gen(s, spec))
      one(viaSql,
        "n" -> count(lit(1)),
        "n_tags" -> countDistinct(col("tag")),
        "sql_matches_api" -> lit(hashesMatch),
        "label_shape" -> all(col("label").rlike("^id-[0-9]{4}$")),
        "v_in_range" -> all(col("v").between(1, 100)))
    }),

    // Bucketed sink: both generated tables are written bucketBy(8, key)
    // + sortBy through the catalog, then equi-joined with broadcast OFF —
    // the join must run with ZERO Exchange (bucket co-location replaces
    // the shuffle; the write-once-shuffle-never layout for fact tables).
    "q_gen_sink_bucketed" -> ((s, _) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
      val fact = gen(s, TableSpec("bfact", 20000, Seq(
        c("k", "bigint", ColumnStrategy.Sequence(0, 1)),
        c("key", "int", ColumnStrategy.Expression("CAST(k % 100 AS INT)")),
        c("v", "int", ColumnStrategy.Range(1, 50, Some(1))))))
      val dim = gen(s, TableSpec("bdim", 100, Seq(
        c("key", "int", ColumnStrategy.Sequence(0, 1)),
        c("name", "string", ColumnStrategy.Pattern("dim-{digit:3}")))))
      s.sql("DROP TABLE IF EXISTS graft_bfact")
      s.sql("DROP TABLE IF EXISTS graft_bdim")
      graft.io.Writer.writeBatch(fact, OutputDataset(s"$tmp/bfact",
        bucketBy = Seq("key"), buckets = 8, tableName = Some("graft_bfact")))
      graft.io.Writer.writeBatch(dim, OutputDataset(s"$tmp/bdim",
        bucketBy = Seq("key"), buckets = 8, tableName = Some("graft_bdim")))
      val pathOnlyRejected =
        try { graft.io.Writer.writeBatch(dim, OutputDataset(s"$tmp/bad",
          bucketBy = Seq("key"), buckets = 8)); false }
        catch { case _: graft.spec.SpecError => true }
      val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = s.table("graft_bfact").join(s.table("graft_bdim"), "key")
        val rows = joined.collect()
        val noShuffle = graft.PlanShape(joined).exchanges.isEmpty
        one(s.range(1).toDF("one"),
          "n" -> lit(rows.length.toLong),
          "dim_keys_covered" -> lit(rows.map(_.getAs[Int]("key")).distinct.length == 100L),
          "zero_exchange_join" -> lit(noShuffle),
          "path_only_rejected" -> lit(pathOnlyRejected))
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        // Leave no residue: the catalog tables and the per-run temp dir
        // would otherwise accumulate across bench/verify invocations.
        s.sql("DROP TABLE IF EXISTS graft_bfact")
        s.sql("DROP TABLE IF EXISTS graft_bdim")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      }
    }),

    // DSv2 with the TRAILING-FILTER pipeline shape: a filter constraint
    // plus a random=true column means Catalyst cannot push the filter
    // below the nondeterministic project, so the extracted program ends in
    // a FilterStep — the shape where column pruning must append a narrow
    // projection instead of narrowing the inner project (r8 fix; pre-fix,
    // a pruned read returned values from the wrong ordinals). Partitions
    // are pinned so the rand(hash) draw — and thus the surviving row set —
    // is identical in any environment.
    "q_gen_dsv2_filter" -> ((s, _) => {
      val spec = TableSpec("dsv2_f", 5000, Seq(
        c("k", "bigint", ColumnStrategy.Sequence()),
        c("a", "int", ColumnStrategy.Range(1, 100, Some(1))).copy(random = true),
        c("tag", "string", ColumnStrategy.Values(Seq("x", "y", "z")))),
        partitions = Some(8),
        constraints = Seq(Constraint.SqlExpr("a >= 50")))
      val planJson = PlanJson.saveJson(DataGenPlan(Seq(spec), 7L))
      val full = s.read.format("graft").option("plan", planJson).load()
      val fullRows = full.select("k", "a", "tag").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      // Non-prefix subset: ordinal misalignment surfaces as wrong values.
      val sub = s.read.format("graft").option("plan", planJson).load()
        .select("tag", "k").collect().map(r => (r.getString(0), r.getLong(1)))
      one(full,
        "nonempty" -> lit(fullRows.nonEmpty),
        "filtered" -> lit(fullRows.length < 5000),
        "filter_holds" -> lit(fullRows.forall(_._2 >= 50)),
        "pruned_matches_full" ->
          lit(sub.toSet == fullRows.map(t => (t._3, t._1)).toSet))
    }),

    // ------------------------------------------------- serialization + ddl
    "q_gen_serialization" -> ((s, _) => {
      val star = PlanJson.loadResource("star_schema.json")
      val roundtrip = PlanJson.loadJson(PlanJson.saveJson(star)) == star &&
        PlanJson.loadYaml(PlanJson.saveYaml(star)) == star
      val tables = Generator.generate(s, star)
      def orphans(ch: String, cc: String, p: String, pc: String): Column =
        lit(tables(ch).join(tables(p), tables(ch)(cc) === tables(p)(pc), "left_anti").count())
      tables("orders").agg(
        count(lit(1)).as("n_orders"),
        lit(roundtrip).as("roundtrip_ok"),
        (orphans("orders", "customer_id", "customers", "customer_id") +
          orphans("customers", "region_id", "regions", "region_id") +
          orphans("order_items", "product_id", "products", "product_id")).as("total_orphans"))
    }),

    "q_gen_script_table" -> ((s, _) => {
      import s.implicits._
      val df = gen(s, TableSpec("t", 10, Seq(
        c("k", "bigint", ColumnStrategy.Sequence()),
        c("v", "string", ColumnStrategy.Values(Seq("x"))))))
      val ddl = graft.io.Scripting.scriptTable(df.schema, "graft_tbl")
      val merge = graft.io.Scripting.scriptMerge(df.schema, "graft_tbl", "updates",
        joinExpr = "tgt.k = src.k")
      val mergeOk = merge.startsWith("MERGE INTO graft_tbl AS tgt\nUSING updates AS src\n" +
        "ON tgt.k = src.k") &&
        merge.contains("WHEN MATCHED THEN UPDATE SET tgt.k = src.k, tgt.v = src.v") &&
        merge.contains("WHEN NOT MATCHED THEN INSERT (k, v) VALUES (src.k, src.v)")
      Seq((ddl, mergeOk)).toDF("ddl", "merge_ok")
    }),

    // ---------------------------------------------------- numeric ranges
    "q_gen_sequence" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(c("k", "bigint", ColumnStrategy.Sequence(100, 7)))))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("k")),
        "min_k" -> min(col("k")), "max_k" -> max(col("k")),
        "on_step" -> all(pmod(col("k") - 100, lit(7L)) === 0))
    }),

    "q_gen_range_int" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 20000, Seq(c("v", "int", ColumnStrategy.Range(10, 50, Some(4))))))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("v")),
        "min_v" -> min(col("v")).cast("long"), "max_v" -> max(col("v")).cast("long"),
        "in_bounds" -> all(col("v").between(10, 50)),
        "on_step" -> all(pmod(col("v") - 10, lit(4)) === 0))
    }),

    "q_gen_range_continuous" -> ((s, _) => {
      // Uniform over [-5,5): each 2.5-wide quarter is Binomial(20000, 0.25),
      // E=5000, sigma=61 — the ±400 band is ±6.5 sigma.
      val df = gen(s, TableSpec("t", 20000, Seq(
        c("v", "double", ColumnStrategy.Range(-5, 5, continuous = true)))))
      val quarter = (i: Int) =>
        sum(when(floor((col("v") + 5) / 2.5) === i, 1L).otherwise(0L)).as(s"q$i")
      df.agg(count(lit(1)).as("n"), quarter(0), quarter(1), quarter(2), quarter(3),
          min(col("v") >= -5 && col("v") < 5).as("in_bounds"))
        .select(col("n"), col("in_bounds"),
          (0 until 4).map(i => col(s"q$i").between(4600, 5400)).reduce(_ && _).as("balanced"))
    }),

    "q_gen_range_decimal" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(
        c("v", "decimal(10,2)", ColumnStrategy.Range(1, 100, Some(BigDecimal("0.25")))))))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("v")),
        "min_v" -> min(col("v")).cast("string"), "max_v" -> max(col("v")).cast("string"),
        "on_step" -> all(pmod(col("v") * 100, lit(25)) === 0))
    }),

    "q_gen_unique_clamp" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 30000, Seq(
        c("v", "int", ColumnStrategy.Range(0, 1000000, Some(1))).copy(uniqueValues = Some(100L)))))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("v")),
        "distinct_eq_unique" -> (countDistinct(col("v")) === 100))
    }),

    "q_gen_scatter" -> ((s, _) => {
      // Affine-bijection scatter: same lattice, permuted order — distinct
      // count unchanged, values not the identity mapping.
      val plain = gen(s, TableSpec("t", 5000, Seq(
        c("pk", "bigint", ColumnStrategy.Sequence(0, 1)),
        c("v", "int", ColumnStrategy.Range(0, 4999, Some(1))).copy(uniqueValues = Some(5000L)))))
      val scat = gen(s, TableSpec("t", 5000, Seq(
        c("pk", "bigint", ColumnStrategy.Sequence(0, 1)),
        c("v", "int", ColumnStrategy.Range(0, 4999, Some(1)))
          .copy(uniqueValues = Some(5000L), scatter = true))))
      val j = plain.alias("p").join(scat.alias("s"), col("p.pk") === col("s.pk"))
      // 5000 uniform draws over a 5000-value lattice: E[distinct] =
      // 5000*(1-e^-1) = 3161, sigma ~ 34; the bijection cannot change the
      // distinct count, so plain and scattered must agree exactly.
      one(j, "n" -> count(lit(1)),
        "distinct_preserved" -> (countDistinct(col("p.v")) === countDistinct(col("s.v"))),
        "distinct_band" -> countDistinct(col("p.v")).between(2990, 3330),
        "differs" -> (sum(when(col("p.v") =!= col("s.v"), 1L).otherwise(0L)) > 0))
    }),

    "q_gen_random_mode" -> ((s, _) => {
      // Legacy random=True: the cell seed comes from a seeded rand() stream
      // instead of the row id (ref: column_generation_spec.py:946-992).
      // Pinned-safe invariants: strategy bounds still hold, the stream is
      // repeatable per run under hash_fieldname AND fixed seed methods
      // (partitions pinned at 8), values decouple from the deterministic
      // twin of the same spec, and sibling random columns stay decorrelated.
      def build(method: RandomSeedMethod, rRandom: Boolean) = Generator.generate(s,
        DataGenPlan(Seq(TableSpec("t", 20000, Seq(
          c("pk", "bigint", ColumnStrategy.Sequence(0, 1)),
          c("r", "bigint", ColumnStrategy.Range(10, 99, Some(1))).copy(random = rRandom),
          c("r2", "bigint", ColumnStrategy.Range(10, 99, Some(1))).copy(random = true),
          c("v", "string", ColumnStrategy.Values(Seq("x", "y", "z"))).copy(random = true)),
          partitions = Some(8))), 42L, method))("t")
      val a = build(RandomSeedMethod.HashFieldName, rRandom = true)
      val b = build(RandomSeedMethod.HashFieldName, rRandom = true)
      val det = build(RandomSeedMethod.HashFieldName, rRandom = false)
      val f1 = build(RandomSeedMethod.Fixed, rRandom = true)
      val f2 = build(RandomSeedMethod.Fixed, rRandom = true)
      val j = a.alias("a").join(b.alias("b"), col("a.pk") === col("b.pk"))
        .join(det.alias("d"), col("a.pk") === col("d.pk"))
      val jf = f1.alias("f").join(f2.alias("g"), col("f.pk") === col("g.pk"))
      val m1 = one(j, "n" -> count(lit(1)),
        "in_range" -> all(col("a.r").between(10, 99)),
        "in_set" -> all(col("a.v").isin("x", "y", "z")),
        "repeatable_hash" -> all(col("a.r") === col("b.r") && col("a.v") === col("b.v")),
        "decoupled" -> (sum(when(col("a.r") === col("d.r"), 1L).otherwise(0L)) < 2000L),
        "decorrelated" -> (sum(when(col("a.r") === col("a.r2"), 1L).otherwise(0L)) < 2000L),
        "spread" -> (countDistinct(col("a.r")) >= 60))
      val m2 = one(jf, "repeatable_fixed" -> all(col("f.r") === col("g.r")))
      m1.crossJoin(m2)
    }),

    // ------------------------------------------------------- temporal
    "q_gen_timestamp" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(c("ts", "timestamp", ColumnStrategy.Timestamp(
        java.time.Instant.parse("2024-03-01T00:00:00Z"),
        java.time.Instant.parse("2024-03-31T23:59:00Z"), 60)))))
      // 10000 uniform draws over the 44640-minute lattice: the exact
      // min/max are sampling accidents, but P(no draw in the first hour) =
      // (1-60/44640)^10000 = e^-13.4 ~ 1.5e-6 (same for the last hour), and
      // E[distinct] = 44640*(1-e^(-10000/44640)) = 8955 with sigma in the
      // tens — so edge-proximity and a distinct-count band are derivable.
      one(df, "n" -> count(lit(1)),
        "min_near_start" -> (min(col("ts")) <= lit("2024-03-01 01:00:00")),
        "max_near_end" -> (max(col("ts")) >= lit("2024-03-31 23:00:00")),
        "distinct_band" -> countDistinct(col("ts")).between(8700, 9200),
        "minute_aligned" -> all(second(col("ts")) === 0),
        "in_bounds" -> all(col("ts").between("2024-03-01 00:00:00", "2024-03-31 23:59:00")))
    }),

    "q_gen_daterange" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(c("dt", "date", ColumnStrategy.DateRange(
        java.time.LocalDate.parse("2024-01-01"), java.time.LocalDate.parse("2024-12-31"), 7)))))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("dt")),
        "min_dt" -> min(col("dt")).cast("string"), "max_dt" -> max(col("dt")).cast("string"),
        "on_week" -> all(pmod(datediff(col("dt"), lit("2024-01-01").cast("date")), lit(7)) === 0))
    }),

    // ------------------------------------------------------- values
    // Unweighted values: each of 3 is Binomial(9000, 1/3), E=3000, sigma=44.7;
    // the ±350 band is ±7.8 sigma. No value outside the list may appear.
    "q_gen_values" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 9000, Seq(c("v", "string",
        ColumnStrategy.Values(Seq("alpha", "beta", "gamma"))))))
      val cnt = (nm: String) => sum(when(col("v") === nm, 1L).otherwise(0L)).as(s"n_$nm")
      df.agg(count(lit(1)).as("n"), cnt("alpha"), cnt("beta"), cnt("gamma"))
        .select(col("n"),
          Seq("alpha", "beta", "gamma").map(nm => abs(col(s"n_$nm") - 3000) <= 350)
            .reduce(_ && _).as("balanced"),
          (col("n_alpha") + col("n_beta") + col("n_gamma") === col("n")).as("total_ok"))
    }),

    // 10% statistical contract at 3000x values (function_builder.py:59-63);
    // actual sigma: Binomial(30000, 0.6) -> 85, so ±10% = ±21 sigma.
    "q_gen_values_weighted" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 30000, Seq(c("v", "string",
        ColumnStrategy.Values(Seq("x", "y", "z"), Seq(0.6, 0.3, 0.1))))))
      val cnt = (nm: String) => sum(when(col("v") === nm, 1L).otherwise(0L)).as(s"n_$nm")
      df.agg(count(lit(1)).as("n"), cnt("x"), cnt("y"), cnt("z"))
        .select(col("n"),
          col("n_x").between(16200, 19800).as("x_within_10pct"),
          col("n_y").between(8100, 9900).as("y_within_10pct"),
          col("n_z").between(2700, 3300).as("z_within_10pct"),
          (col("n_x") + col("n_y") + col("n_z") === col("n")).as("total_ok"))
    }),

    "q_gen_percent_nulls" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 20000, Seq(
        c("v", "int", ColumnStrategy.Range(1, 100, Some(1))).copy(percentNulls = 0.15))))
      one(df, "n" -> count(lit(1)),
        "within_2pct" -> (sum(when(col("v").isNull, 1L).otherwise(0L))
          .between(lit(20000 * 0.13), lit(20000 * 0.17))))
    }),

    // ------------------------------------------------------ decorations
    "q_gen_prefix_suffix_format" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 5000, Seq(
        c("a", "string", ColumnStrategy.Sequence(1, 1)).copy(prefix = Some("ORD")),
        c("b", "string", ColumnStrategy.Sequence(1, 1)).copy(suffix = Some("X"), textSeparator = "-"),
        c("f", "string", ColumnStrategy.Sequence(1, 1)).copy(format = Some("%05d")))))
      one(df, "n" -> count(lit(1)),
        "a_ok" -> all(col("a").rlike("^ORD_[0-9]+$")),
        "b_ok" -> all(col("b").rlike("^[0-9]+-X$")),
        "f_ok" -> all(col("f").rlike("^[0-9]{5,}$")))
    }),

    // ----------------------------------------------- expressions + phases
    "q_gen_expression_phases" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 8000, Seq(
        c("a", "bigint", ColumnStrategy.Sequence(0, 1)),
        ColumnSpec("b", NullType, ColumnStrategy.Expression("a * 2 + 1")),
        ColumnSpec("cc", NullType, ColumnStrategy.Expression("b * b - a")))))
      one(df, "n" -> count(lit(1)),
        "b_ok" -> all(col("b") === col("a") * 2 + 1),
        "c_ok" -> all(col("cc") === col("b") * col("b") - col("a")))
    }),

    "q_gen_seed_from_value" -> ((s, _) => {
      // seed_from correlation: v is a pure function of base's VALUE, so
      // equal base values always produce equal v values.
      val df = gen(s, TableSpec("t", 10000, Seq(
        c("base", "bigint", ColumnStrategy.Range(1, 50, Some(1))),
        c("v", "int", ColumnStrategy.Range(1, 1000, Some(1)))
          .copy(seedMode = SeedMode.FromValue("base")))))
      one(df, "n" -> count(lit(1)),
        "functional" -> (countDistinct(struct(col("base"), col("v"))) === countDistinct(col("base"))))
    }),

    "q_gen_seed_from_columns" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(
        c("x", "string", ColumnStrategy.Values(Seq("p", "q", "r"))),
        c("y", "string", ColumnStrategy.Values(Seq("u", "v"))),
        c("h", "int", ColumnStrategy.Range(1, 100000, Some(1)))
          .copy(seedMode = SeedMode.FromColumns(Seq("x", "y"))))))
      one(df, "n" -> count(lit(1)),
        "n_h" -> countDistinct(col("h")),
        "functional" -> (countDistinct(struct(col("x"), col("y"), col("h"))) ===
          countDistinct(struct(col("x"), col("y")))))
    }),

    "q_gen_seed_raw_values" -> ((s, _) => {
      // raw_values array seed mode: correlation keys on the *stringified*
      // values. Two builds of the same (table, column) names — one with the
      // base as bigint, one with the identical value rendered as string —
      // must agree under FromColumnValues (stringly seeds) but differ under
      // FromColumns (native-value hash). Template \v0/\v1 placeholders
      // splice the individual base values.
      def build(aSql: String) = gen(s, TableSpec("t", 10000, Seq(
        c("pk", "bigint", ColumnStrategy.Sequence(0, 1)),
        ColumnSpec("a", NullType, ColumnStrategy.Expression(aSql)),
        c("tag", "string", ColumnStrategy.Values(Seq("u", "v"))),
        c("h_raw", "int", ColumnStrategy.Range(1, 100000, Some(1)))
          .copy(seedMode = SeedMode.FromColumnValues(Seq("a", "tag"))),
        c("h_hash", "int", ColumnStrategy.Range(1, 100000, Some(1)))
          .copy(seedMode = SeedMode.FromColumns(Seq("a", "tag"))),
        c("label", "string", ColumnStrategy.Template("""\v0-\v1""",
          escapeSpecialChars = true))
          .copy(seedMode = SeedMode.FromColumnValues(Seq("tag", "a"))))))
      val asInt = build("pk % 50 + 1")
      val asStr = build("cast(pk % 50 + 1 AS string)")
      val j = asInt.alias("i").join(asStr.alias("t"), col("i.pk") === col("t.pk"))
      one(j, "n" -> count(lit(1)),
        "stringly_equal" -> all(col("i.h_raw") === col("t.h_raw")),
        "native_hash_differs" -> (sum(when(col("i.h_hash") === col("t.h_hash"), 1L)
          .otherwise(0L)) < 1000L),
        "functional" -> (countDistinct(struct(col("i.a"), col("i.tag"), col("i.h_raw"))) ===
          countDistinct(struct(col("i.a"), col("i.tag")))),
        "label_spliced" -> all(col("i.label") === concat(col("i.tag"), lit("-"), col("i.a"))))
    }),

    "q_gen_stream_rate" -> ((s, _) => {
      // Rate-family streaming build made fully deterministic AND fully
      // SQL-derivable: the rate-micro-batch source under
      // Trigger.AvailableNow emits exactly one batch of seeds
      // [0, rowsPerBatch) at the parameterized start timestamp — no wall
      // clock anywhere — and the columns are Sequence + Expression
      // (pure seed arithmetic), so DuckDB replays the ENTIRE row set from
      // generate_series(0, 1999), including the epoch timestamp the
      // start-timestamp option pins (formatted as a string both sides).
      // Hash-derived column stability keeps its coverage in the batch
      // generation queries; the wall-clock rowsPerSecond path keeps its
      // coverage in Round6Spec ("plain rate source streams generated rows").
      val qname = "graft_q_stream_rate"
      val q = graft.api.DataGenerator(s, "sr", rows = Long.MaxValue)
        .withColumn("pk", "bigint", ColumnStrategy.Sequence(0, 1))
        .withColumn("v", "int", ColumnStrategy.Expression("cast(pk % 100 + 1 as int)"))
        .withColumn("tag", "string", ColumnStrategy.Expression("if(pk % 2 = 0, 'a', 'b')"))
        .buildStreamMicroBatch(rowsPerBatch = 2000, startTimestampMs = 0L)
        .writeStream.format("memory").queryName(qname)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val finished = q.awaitTermination(60000)
      require(finished, "rate-micro-batch AvailableNow stream did not finish in 60s")
      s.table(qname)
        .select(col("pk"), col("v"), col("tag"),
          date_format(col(Generator.StreamingTimestampColumn),
            "yyyy-MM-dd HH:mm:ss").as("ts"))
        .orderBy("pk")
    }),

    // ------------------------------------------------------ multi-column
    "q_gen_multicolumn" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 5000, Seq(
        c("f", "double", ColumnStrategy.Range(0, 1, continuous = true)).copy(numColumns = 3))))
      one(df, "n" -> count(lit(1)),
        "cols" -> lit(df.columns.length.toLong),
        "decorrelated" -> (countDistinct(struct(col("f_0"), col("f_1"), col("f_2"))) > 4900))
    }),

    "q_gen_array_feature" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 5000, Seq(
        c("f", "double", ColumnStrategy.Range(0, 1, continuous = true))
          .copy(numColumns = 4, asArray = true))))
      one(df, "n" -> count(lit(1)),
        "all_len4" -> all(size(col("f")) === 4),
        "in_bounds" -> all(forall(col("f"), e => e >= 0 && e <= 1)))
    }),

    // ------------------------------------------------- struct/array/json
    "q_gen_struct" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 5000, Seq(ColumnSpec("st", NullType, ColumnStrategy.Struct(Seq(
        "a" -> c("a", "int", ColumnStrategy.Range(1, 10, Some(1))),
        "b" -> c("b", "string", ColumnStrategy.Values(Seq("u", "v", "w")))))))))
      one(df, "n" -> count(lit(1)),
        "a_in_bounds" -> all(col("st.a").between(1, 10)),
        "n_b" -> countDistinct(col("st.b")))
    }),

    "q_gen_struct_json" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 3000, Seq(ColumnSpec("js", NullType, ColumnStrategy.Struct(Seq(
        "a" -> c("a", "int", ColumnStrategy.Range(1, 5, Some(1)))), asJson = true)))))
      one(df, "n" -> count(lit(1)),
        "json_shape" -> all(col("js").rlike("^\\{\"a\":[1-5]\\}$")))
    }),

    "q_gen_array_of" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 5000, Seq(ColumnSpec("ar", NullType, ColumnStrategy.ArrayOf(
        c("e", "int", ColumnStrategy.Range(0, 99, Some(1))), 2, 6)))))
      one(df, "n" -> count(lit(1)),
        "len_in_bounds" -> all(size(col("ar")).between(2, 6)),
        "elems_in_bounds" -> all(forall(col("ar"), e => e >= 0 && e <= 99)),
        "n_lens" -> countDistinct(size(col("ar"))))
    }),

    "q_gen_omit" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 1000, Seq(
        c("hidden", "bigint", ColumnStrategy.Sequence()).copy(omit = true),
        ColumnSpec("shown", NullType, ColumnStrategy.Expression("hidden * 10")))))
      one(df, "n" -> count(lit(1)), "cols" -> lit(df.columns.length.toLong),
        "derived_ok" -> all(pmod(col("shown"), lit(10L)) === 0))
    }),

    "q_gen_constant" -> ((s, _) =>
      gen(s, TableSpec("t", 2500, Seq(c("k", "string", ColumnStrategy.Constant("fixed")))))
        .groupBy("k").agg(count(lit(1)).as("n")).orderBy("k")),

    // -------------------------------------------------------- text/ids
    "q_gen_uuid" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 20000, Seq(c("u", "string", ColumnStrategy.Uuid))))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("u")),
        "shape_ok" -> all(col("u").rlike("^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")))
    }),

    "q_gen_pattern" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(
        c("p", "string", ColumnStrategy.Pattern("ORD-{seq:6}-{digit:4}-{alpha:3}-{hex:2}")))))
      one(df, "n" -> count(lit(1)), "n_distinct" -> countDistinct(col("p")),
        "shape_ok" -> all(col("p").rlike("^ORD-[0-9]{6}-[0-9]{4}-[A-Z]{3}-[0-9a-f]{2}$")))
    }),

    "q_gen_template" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(
        c("t1", "string", ColumnStrategy.Template("dd-AA-xx")),
        c("t2", "string", ColumnStrategy.Template("""\w @ \W""")),
        c("t3", "string", ColumnStrategy.Template("""aaa|ddd|XXX""")))))
      one(df, "n" -> count(lit(1)),
        "t1_ok" -> all(col("t1").rlike("^[0-9]{2}-[A-Z]{2}-[0-9a-f]{2}$")),
        "t2_ok" -> all(col("t2").rlike("^[a-z]+ @ [A-Z]+$")),
        "t3_ok" -> all(col("t3").rlike("^([a-z]{3}|[0-9]{3}|[A-F0-9]{3})$")),
        "t3_all_alternatives" -> (countDistinct(
          when(col("t3").rlike("^[a-z]{3}$"), "w")
            .when(col("t3").rlike("^[0-9]{3}$"), "d")
            .otherwise("X")) === 3))
    }),

    "q_gen_template_base" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 5000, Seq(
        c("city", "string", ColumnStrategy.Values(Seq("lyon", "oslo", "kyiv"))),
        c("slug", "string", ColumnStrategy.Template("""\v-dd""", baseColumn = Some("city"))))))
      one(df, "n" -> count(lit(1)),
        "base_ok" -> all(col("slug").rlike("^(lyon|oslo|kyiv)-[0-9]{2}$")),
        "base_matches" -> all(split(col("slug"), "-").getItem(0) === col("city")))
    }),

    "q_gen_iltext" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 3000, Seq(
        c("txt", "string", ColumnStrategy.ILText((1, 2), (2, 3), (3, 6))))))
      one(df, "n" -> count(lit(1)),
        "ends_period" -> all(col("txt").rlike("\\.$")),
        "capitalized" -> all(col("txt").rlike("^[A-Z]")),
        "charset_ok" -> all(col("txt").rlike("^[A-Za-z .\\n]+$")),
        "high_variety" -> (countDistinct(col("txt")) >= 2900))
    }),

    "q_gen_faker" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(
        c("email", "string", ColumnStrategy.Faker("email", 5000)),
        c("name", "string", ColumnStrategy.Faker("name")))))
      // 10000 draws over a 5000-email pool: E[distinct] = 5000*(1-e^-2) =
      // 4323, sigma ~ 30 — the band rejects both a broken pool (too few)
      // and a pool ignoring its size cap (too many).
      one(df, "n" -> count(lit(1)),
        "email_ok" -> all(col("email").rlike("^[a-z]+\\.[a-z]+[0-9]+@[a-z.]+$")),
        "name_ok" -> all(col("name").rlike("^[A-Z][a-z]+ [A-Z][a-z]+$")),
        "email_variety" -> countDistinct(col("email")).between(4100, 4550))
    }),

    "q_gen_faker_breadth" -> ((s, _) => {
      // Locale breadth (23 locales: it/pt/nl/pl/sv/ja + the r7 additions
      // ru/uk/cs/da/fi/no/hu/ro/tr/el/zh/ko/ar beyond en/de/fr/es) + the
      // wider provider set. Locale pools must actually differ from en, and
      // every provider's output must match its documented shape.
      val df = gen(s, TableSpec("t", 5000, Seq(
        c("name_it", "string", ColumnStrategy.Faker("last_name", locale = "it")),
        c("name_ja", "string", ColumnStrategy.Faker("last_name", locale = "ja")),
        c("city_pl", "string", ColumnStrategy.Faker("city", locale = "pl")),
        c("name_ru", "string", ColumnStrategy.Faker("name", locale = "ru")),
        c("mail_tr", "string", ColumnStrategy.Faker("email", locale = "tr")),
        c("job", "string", ColumnStrategy.Faker("job")),
        c("state", "string", ColumnStrategy.Faker("state")),
        c("postcode", "string", ColumnStrategy.Faker("postcode")),
        c("user", "string", ColumnStrategy.Faker("user_name")),
        c("ip", "string", ColumnStrategy.Faker("ipv4")),
        c("cc", "string", ColumnStrategy.Faker("credit_card_number")),
        c("ccode", "string", ColumnStrategy.Faker("country_code")),
        c("cur", "string", ColumnStrategy.Faker("currency_code")),
        c("dob", "string", ColumnStrategy.Faker("date_of_birth")),
        c("uid", "string", ColumnStrategy.Faker("uuid4")))))
      val itSet = graft.columns.FakerPools.pool("last_name", 200, 42L, "it").toSet
      val enSet = graft.columns.FakerPools.pool("last_name", 200, 42L, "en").toSet
      val ruSet = graft.columns.FakerPools.pool("last_name", 200, 42L, "ru").toSet
      one(df, "n" -> count(lit(1)),
        "locales_differ" -> lit(itSet != enSet && ruSet != enSet && ruSet != itSet),
        "it_from_pool" -> all(col("name_it").isin(itSet.toSeq.map(lit): _*)),
        "ja_shape" -> all(col("name_ja").rlike("^[A-Z][a-z]+$")),
        "pl_city_nonempty" -> all(length(col("city_pl")) > 0),
        "ru_name_shape" -> all(col("name_ru").rlike("^[A-Z][a-z]+ [A-Z][a-z]+$")),
        // Diacritics in tr names must fold to plain ASCII local parts.
        "tr_email_ascii" -> all(col("mail_tr").rlike("^[a-z0-9.]+@[a-z0-9.]+$")),
        "postcode_shape" -> all(col("postcode").rlike("^[0-9]{5}$")),
        "user_shape" -> all(col("user").rlike("^[a-z]+[._][a-z]+[0-9]+$")),
        "ip_shape" -> all(col("ip").rlike(
          "^[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}$")),
        "cc_shape" -> all(col("cc").rlike("^4[0-9]{15}$")),
        "codes_shape" -> all(col("ccode").rlike("^[A-Z]{2}$") && col("cur").rlike("^[A-Z]{3}$")),
        "dob_range" -> all(col("dob").between("1950-01-01", "2005-12-31")),
        "uuid_shape" -> all(col("uid").rlike(
          "^[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")),
        "job_state_nonempty" -> all(length(col("job")) > 0 && length(col("state")) > 0))
    }),

    "q_gen_dataset_options" -> ((s, _) => {
      // allowed_options enforcement (ref: dataset_provider.py:251-289): a
      // misspelled option must fail fast naming the provider, valid options
      // must pass, and the navigator sugar must describe the catalog.
      val rejected =
        try { graft.datasets.Datasets.get(s, "basic/telematics", 100,
          options = Map("numDevice" -> "5")); false }
        catch { case e: SpecError =>
          e.getMessage.contains("basic/telematics") && e.getMessage.contains("numDevice") }
      val accepted = graft.datasets.Datasets.get(s, "basic/telematics", 100,
        options = Map("numDevices" -> "5")).count() == 100L
      val described = graft.datasets.Datasets.describe("benchmark/groupby")
      one(s.range(1).toDF("x"),
        "rejects_unknown" -> lit(rejected),
        "accepts_known" -> lit(accepted),
        "describe_lists_options" ->
          lit(described.contains("groups") && described.contains("percentNulls")),
        "catalog_size" -> lit(graft.datasets.Datasets.list.length.toLong))
    }),

    "q_gen_plugin" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 2000, Seq(
        c("v", "string", ColumnStrategy.Plugin(seed => s"plug-${math.floorMod(seed, 97L)}")))))
      one(df, "n" -> count(lit(1)),
        "shape_ok" -> all(col("v").rlike("^plug-[0-9]{1,2}$")),
        "n_distinct" -> countDistinct(col("v")))
    }),

    // --------------------------------------------------- foreign keys
    "q_gen_fk_sequence" -> ((s, _) => {
      val ts = genPlan(s, 42L,
        TableSpec("parent", 500, Seq(c("pid", "bigint", ColumnStrategy.Sequence(1000, 3))),
          primaryKey = Some(PrimaryKey("pid"))),
        TableSpec("child", 8000, Seq(
          c("cid", "bigint", ColumnStrategy.Sequence()),
          c("pid", "bigint", ColumnStrategy.ForeignKey("parent", "pid"))),
          primaryKey = Some(PrimaryKey("cid"))))
      val orphans = ts("child").join(ts("parent"), Seq("pid"), "left_anti").count()
      one(ts("child"), "n" -> count(lit(1)), "orphans" -> lit(orphans),
        "n_parents_hit" -> countDistinct(col("pid")))
    }),

    "q_gen_fk_pattern_zipf" -> ((s, _) => {
      val ts = genPlan(s, 42L,
        TableSpec("parent", 300, Seq(c("code", "string", ColumnStrategy.Pattern("P-{seq:4}"))),
          primaryKey = Some(PrimaryKey("code"))),
        TableSpec("child", 9000, Seq(
          c("cid", "bigint", ColumnStrategy.Sequence()),
          c("code", "string", ColumnStrategy.ForeignKey("parent", "code", Distribution.Zipf(1.5))))))
      val orphans = ts("child").join(ts("parent"), Seq("code"), "left_anti").count()
      // Zipf skew: the single most frequent parent takes a large share.
      val topShare = ts("child").groupBy("code").count().agg(max("count")).collect().head.getLong(0)
      one(ts("child"), "n" -> count(lit(1)), "orphans" -> lit(orphans),
        "skewed" -> (lit(topShare) > 9000L / 300L * 5L))
    }),

    "q_gen_fk_uuid" -> ((s, _) => {
      val ts = genPlan(s, 42L,
        TableSpec("parent", 400, Seq(c("uid", "string", ColumnStrategy.Uuid)),
          primaryKey = Some(PrimaryKey("uid"))),
        TableSpec("child", 6000, Seq(
          c("cid", "bigint", ColumnStrategy.Sequence()),
          c("uid", "string", ColumnStrategy.ForeignKey("parent", "uid")))))
      val orphans = ts("child").join(ts("parent"), Seq("uid"), "left_anti").count()
      one(ts("child"), "n" -> count(lit(1)), "orphans" -> lit(orphans))
    }),

    "q_gen_fk_null_fraction" -> ((s, _) => {
      val ts = genPlan(s, 42L,
        TableSpec("parent", 100, Seq(c("pid", "bigint", ColumnStrategy.Sequence())),
          primaryKey = Some(PrimaryKey("pid"))),
        TableSpec("child", 10000, Seq(
          c("cid", "bigint", ColumnStrategy.Sequence()),
          c("pid", "bigint", ColumnStrategy.ForeignKey("parent", "pid")).copy(percentNulls = 0.2))))
      val nonNullOrphans = ts("child").where(col("pid").isNotNull)
        .join(ts("parent"), Seq("pid"), "left_anti").count()
      one(ts("child"), "n" -> count(lit(1)),
        "orphans" -> lit(nonNullOrphans),
        "null_frac_ok" -> (sum(when(col("pid").isNull, 1L).otherwise(0L)).between(1800L, 2200L)))
    }),

    // -------------------------------------------------- constraints-on-gen
    "q_gen_constraints" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 20000, Seq(
        c("lo", "int", ColumnStrategy.Range(0, 50, Some(1))),
        c("hi", "int", ColumnStrategy.Range(50, 100, Some(1))),
        c("v", "int", ColumnStrategy.Range(0, 100, Some(1)))),
        constraints = Seq(
          Constraint.ChainedRelation(Seq("lo", "hi"), "<"),
          Constraint.RangedValues(Seq("v"), "lo", "hi"),
          Constraint.SqlExpr("v % 2 = 0"))))
      // Independent uniform draws give P(survive) = 0.25257 exactly (sum
      // over the (lo, hi) grid of even counts in [lo, hi]) -> E = 5051;
      // the band is wide enough for cross-column fluctuation but rejects a
      // dropped constraint (one missing filter lands at ~10100 or ~20000).
      one(df, "survivors_band" -> count(lit(1)).between(4550, 5750),
        "all_valid" -> all(col("lo") < col("hi") && col("v").between(col("lo"), col("hi"))
          && pmod(col("v"), lit(2)) === 0))
    }),

    "q_gen_unique_combinations" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 10000, Seq(
        c("a", "string", ColumnStrategy.Values(Seq("x", "y", "z"))),
        c("b", "int", ColumnStrategy.Range(1, 4, Some(1)))),
        constraints = Seq(Constraint.UniqueCombinations())))
      one(df, "n" -> count(lit(1)), "le_12" -> (count(lit(1)) <= 12))
    }),

    // ------------------------------------------------------ datasets
    "q_gen_dataset_groupby" -> ((s, _) => {
      val df = graft.datasets.Datasets("benchmark/groupby").get(s, rows = 20000,
        options = Map("groups" -> "50"))
      one(df, "n" -> count(lit(1)),
        "id4_groups" -> countDistinct(col("id4")),
        "v1_in_bounds" -> all(col("v1").between(1, 5)),
        "v2_in_bounds" -> all(col("v2").between(1, 15)),
        "id1_shape" -> all(col("id1").rlike("^id[0-9]{3,}$")))
    }),

    "q_gen_dataset_telephony" -> ((s, _) => {
      val ts = graft.datasets.Datasets("multi_table/telephony").getTables(s, rows = 8000)
      val orphans = ts("device_events").join(ts("customers"), Seq("customer_id"), "left_anti").count() +
        ts("customers").join(ts("plans"), Seq("plan_id"), "left_anti").count()
      one(ts("device_events"), "n" -> count(lit(1)), "orphans" -> lit(orphans),
        "types_ok" -> all(col("event_type").isin("call", "sms", "data")))
    }))

  // ------------------------------------------------------ distributions

  /** One query per distribution: 20000 draws over the 1000-point lattice
    * [0,999], bucketed into 5 equi-width bins, reduced to BOOLEAN shape
    * properties whose expected values are derived BY HAND from each law's
    * inverse-CDF math (SpecOracles documents the derivations) — not pinned
    * from an engine run. Bounds are >= 6 binomial sigmas wide (sigma <= 71
    * at N=20000), so they reject a wrong law, not sampling noise. */
  private def distQuery(dist: Distribution)(props: (String, Column)*): Fn = (s, _) => {
    val df = gen(s, TableSpec("t", 20000, Seq(
      c("v", "int", ColumnStrategy.Range(0, 999, Some(1), distribution = dist)))))
    val buckets = (0 until 5).map(i =>
      sum(when(col("v").between(i * 200, i * 200 + 199), 1L).otherwise(0L)).as(s"b$i"))
    val aggs = (count(lit(1)).as("n") +: min(col("v")).as("mn") +: max(col("v")).as("mx") +:
      buckets).toSeq
    val counted = df.agg(aggs.head, aggs.tail: _*)
    val inRange = (col("mn") >= 0 && col("mx") <= 999).as("in_range")
    counted.select(col("n") +: inRange +: props.map { case (nm, p) => p.as(nm) }: _*)
  }

  private def b(i: Int): Column = col(s"b$i")
  private def monotone: Column =
    (0 until 4).map(i => b(i) > b(i + 1)).reduce(_ && _)

  val distQueries: Map[String, Fn] = Map(
    // Uniform: each bucket Binomial(20000, 0.2), E=4000, sigma=56.6.
    "q_dist_uniform" -> distQuery(Distribution.Uniform)(
      "balanced" -> (0 until 5).map(i => b(i).between(3600, 4400)).reduce(_ && _)),
    // Normal(500,150): P(bucket2) = Phi(0.667)-Phi(-0.667) = 0.495 -> E=9900;
    // tails P(v<200) = Phi(-2) = 0.0228 -> E=455 each side, symmetric.
    "q_dist_normal" -> distQuery(Distribution.Normal(Some(500.0), Some(150.0)))(
      "middle_heavy" -> b(2).between(9000, 10800),
      "tails_small" -> (b(0) < 900 && b(4) < 900),
      "symmetric" -> (abs(b(0) - b(4)) <= 400 && abs(b(1) - b(3)) <= 700)),
    // Zipf(1.5): bounded power law on [1,1001], a=0.5:
    // P(b0) = (1-201^-0.5)/(1-1001^-0.5) = 0.9598 -> E=19196.
    "q_dist_zipf" -> distQuery(Distribution.Zipf(1.5))(
      "monotone" -> monotone,
      "head_mass" -> b(0).between(19000, 19400)),
    // Exponential(1), mean index n/5=200: P(b0) = 1-e^-1 = 0.632 -> E=12642.
    "q_dist_exponential" -> distQuery(Distribution.Exponential(1.0))(
      "monotone" -> monotone,
      "head_mass" -> b(0).between(12200, 13100)),
    // LogNormal(0,1) scaled by n/10: P(b0) = Phi(ln 2) = 0.756 -> E=15116;
    // the clamp piles the upper tail onto index 999, so b4 > b3 by design.
    "q_dist_lognormal" -> distQuery(Distribution.LogNormal(0.0, 1.0))(
      "decreasing_head" -> (b(0) > b(1) && b(1) > b(2) && b(2) > b(3)),
      "head_mass" -> b(0).between(14600, 15600),
      "clamp_tail_small" -> (b(4) < 700)),
    // Gamma(2,50), EXACT inverse-CDF draw (DistKernels): for shape 2 the
    // CDF has the closed form P(2,x) = 1-(1+x)e^-x, so with draw = 50*X:
    // P(b0) = P(2,4)  = 1-5e^-4  = 0.90842 -> E=18168, sigma=40.8;
    // P(b1) = P(2,8)-P(2,4)  = 0.08856 -> E=1771, sigma=40.2;
    // P(b2) = P(2,12)-P(2,8) = 0.00294 -> E=59, sigma=7.7;
    // P(b3)+P(b4) (incl. the >=1000 clamp) = 8.1e-5 -> E=1.6.
    // Bands are +/- >=6 sigma.
    "q_dist_gamma" -> distQuery(Distribution.Gamma(2.0, 50.0))(
      "head_mass" -> b(0).between(17900, 18430),
      "b1_mass" -> b(1).between(1520, 2020),
      "b2_mass" -> b(2).between(10, 110),
      "tail_tiny" -> (b(3) + b(4) <= 15)),
    // Beta(2,5), EXACT inverse-CDF draw: I_x(2,5) is the binomial tail
    // sum_{j>=2} C(6,j) x^j (1-x)^(6-j), so bucket masses are exact:
    // I_.2=0.34464 -> E(b0)=6893 (sigma 67); I_.4=0.76672 -> E(b1)=8442
    // (sigma 70); I_.6=0.95904 -> E(b2)=3846 (sigma 56); I_.8=0.99840 ->
    // E(b3)=787 (sigma 28); E(b4)=32 (sigma 5.7). Bands +/- >=6 sigma.
    "q_dist_beta" -> distQuery(Distribution.Beta(2.0, 5.0))(
      "mode_second" -> (b(1) > b(0) && b(1) > b(2)),
      "decreasing_tail" -> (b(2) > b(3) && b(3) > b(4)),
      "masses" -> (b(0).between(6480, 7310) && b(1).between(8010, 8870) &&
        b(2).between(3500, 4190) && b(3).between(610, 960) && b(4).between(2, 70))),
    // Pareto(1.16): bounded on [1,1001]:
    // P(b0) = (1-201^-1.16)/(1-1001^-1.16) = 0.9982 -> E=19964, sigma=6.
    "q_dist_pareto" -> distQuery(Distribution.Pareto(1.16))(
      "monotone" -> monotone,
      "head_mass" -> b(0).between(19930, 19990)),
    // Largest-remainder quantization makes slot counts exact (8000/6000/
    // 4000/2000 of 20000 expected); each count is Binomial, sigma <= 69.
    "q_dist_weighted" -> ((s, _) => {
      val df = gen(s, TableSpec("t", 20000, Seq(c("v", "string",
        ColumnStrategy.Values(Seq("a", "b", "c", "d"), Seq(0.4, 0.3, 0.2, 0.1))))))
      val cnt = (nm: String) => sum(when(col("v") === nm, 1L).otherwise(0L)).as(s"n_$nm")
      df.agg(count(lit(1)).as("n"), cnt("a"), cnt("b"), cnt("c"), cnt("d"))
        .select(col("n"),
          (abs(col("n_a") - 8000) <= 500).as("a_ok"),
          (abs(col("n_b") - 6000) <= 500).as("b_ok"),
          (abs(col("n_c") - 4000) <= 500).as("c_ok"),
          (abs(col("n_d") - 2000) <= 500).as("d_ok"),
          (col("n_a") + col("n_b") + col("n_c") + col("n_d") === col("n")).as("total_ok"))
    }))

  val all: Map[String, Fn] = queries ++ distQueries
}
