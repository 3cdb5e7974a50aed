package graft.queries

/** Handwritten, spec-derived oracles for generator queries — each value
  * below is computed BY HAND from the query's column specs, not captured
  * from an engine run (a captured constant would pin whatever the engine
  * produced and therefore self-certify engine semantics). If the
  * engine drifts from the documented semantics, these rows disagree and the
  * driver's DuckDB compare fails.
  *
  * Derivations:
  *  - Sequence(start, step) over N rows: values start, start+step, ...,
  *    start+step*(N-1) — exactly N distinct, min=start, max=start+step*(N-1).
  *  - Expression columns are checked by boolean invariants inside the query;
  *    the oracle asserts the invariant MUST be true and the row count.
  *  - Coupon-collector counts (all k values hit across n >> k uniform
  *    draws): miss probability <= k*(1-1/k)^n, vanishingly small for every
  *    pair used here (worst case 500*(1-1/500)^8000 ~ 5e-5), and the
  *    deterministic engine freezes the draw, so the exact count is stable.
  *  - UUID distinctness: 128 bits of hash per row; collision probability
  *    across 20000 rows ~ 2e8 / 2^128 ~ 1e-30.
  */
object SpecOracles {
  val map: Map[String, String] = Map(

    // Rate-micro-batch stream: one AvailableNow batch of seeds [0, 2000)
    // at startTimestampMs=0; pk = Sequence(0,1) = seed, v/tag are pure
    // Expression arithmetic over pk, the timestamp is the epoch. The
    // WHOLE row set replays from generate_series — nothing pinned.
    "q_gen_stream_rate" ->
      """SELECT g.range AS pk,
        |  CAST(g.range % 100 + 1 AS INTEGER) AS v,
        |  CASE WHEN g.range % 2 = 0 THEN 'a' ELSE 'b' END AS tag,
        |  '1970-01-01 00:00:00' AS ts
        |FROM range(0, 2000) g ORDER BY pk""".stripMargin,

    // spark.range(0, 12345) identity ids: n = distinct = 12345, ids 0..12344.
    "q_gen_source_batch" ->
      """SELECT CAST(12345 AS BIGINT) AS n,
        |  CAST(12345 AS BIGINT) AS n_distinct,
        |  CAST(0 AS BIGINT) AS min_id,
        |  CAST(12344 AS BIGINT) AS max_id""".stripMargin,

    // Sequence(100, 7) over 10000 rows: min 100, max 100 + 7*9999 = 70093.
    "q_gen_sequence" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(10000 AS BIGINT) AS n_distinct,
        |  CAST(100 AS BIGINT) AS min_k,
        |  CAST(70093 AS BIGINT) AS max_k,
        |  TRUE AS on_step""".stripMargin,

    // Generation is a pure function of (seed, rowId): 3-partition and
    // 13-partition builds of 5000 rows must join 1:1 and agree everywhere.
    "q_gen_partition_independence" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS identical""".stripMargin,

    // 777 rows of default Sequence() (start=1): min k = 1.
    "q_gen_view_registration" ->
      """SELECT CAST(777 AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS min_k""".stripMargin,

    // b = a*2+1 and cc = b*b-a by definition; 8000 rows.
    "q_gen_expression_phases" ->
      """SELECT CAST(8000 AS BIGINT) AS n,
        |  TRUE AS b_ok,
        |  TRUE AS c_ok""".stripMargin,

    // One omitted intermediate + one derived output column = 1 output
    // column; shown = hidden*10 is always a multiple of 10.
    "q_gen_omit" ->
      """SELECT CAST(1000 AS BIGINT) AS n,
        |  CAST(1 AS BIGINT) AS cols,
        |  TRUE AS derived_ok""".stripMargin,

    // Constant('fixed') over 2500 rows groups to exactly one row.
    "q_gen_constant" ->
      """SELECT 'fixed' AS k,
        |  CAST(2500 AS BIGINT) AS n""".stripMargin,

    // 20000 128-bit deterministic UUIDs: distinct (collision ~ 1e-30),
    // 8-4-4-4-12 lowercase hex shape by construction.
    "q_gen_uuid" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  CAST(20000 AS BIGINT) AS n_distinct,
        |  TRUE AS shape_ok""".stripMargin,

    // prefix 'ORD' + default '_' separator; suffix 'X' with '-' separator;
    // %05d zero-pads to width >= 5.
    "q_gen_prefix_suffix_format" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS a_ok,
        |  TRUE AS b_ok,
        |  TRUE AS f_ok""".stripMargin,

    // FK values are reconstructed from the parent Sequence lattice, so
    // orphans = 0 by construction; all 500 parents hit across 8000 uniform
    // draws (miss probability ~ 5e-5, frozen by the deterministic engine).
    "q_gen_fk_sequence" ->
      """SELECT CAST(8000 AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS orphans,
        |  CAST(500 AS BIGINT) AS n_parents_hit""".stripMargin,

    // numColumns=3 expands to f_0..f_2; 5000 iid continuous triples
    // collide with probability ~ 0 => > 4900 distinct.
    "q_gen_multicolumn" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  CAST(3 AS BIGINT) AS cols,
        |  TRUE AS decorrelated""".stripMargin,

    // Sequence(5, 3) over 999 rows round-tripped through parquet:
    // min 5, max 5 + 3*998 = 2999; all 3 values of a 3-value column hit
    // (miss probability ~ 3*(2/3)^999 ~ 1e-176).
    "q_gen_sink_roundtrip" ->
      """SELECT CAST(999 AS BIGINT) AS n,
        |  CAST(5 AS BIGINT) AS min_k,
        |  CAST(2999 AS BIGINT) AS max_k,
        |  CAST(3 AS BIGINT) AS n_vals""".stripMargin,

    // uniqueValues=100 clamps the lattice to exactly 100 values; 30000
    // draws hit all of them (miss probability ~ 100*e^-300).
    "q_gen_unique_clamp" ->
      """SELECT CAST(30000 AS BIGINT) AS n,
        |  CAST(100 AS BIGINT) AS n_distinct,
        |  TRUE AS distinct_eq_unique""".stripMargin,

    // ------------------------------------------------------ distributions
    // Each q_dist_* query reduces 20000 lattice draws to BOOLEAN shape
    // properties; the expected bucket masses are derived from the law's
    // inverse-CDF math (derivations in GenQueries.distQueries) and the
    // bands are >= 6 binomial sigmas wide, so TRUE is certain for a correct
    // law and violated for a wrong one.
    "q_dist_uniform" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS balanced""".stripMargin,
    "q_dist_normal" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS middle_heavy,
        |  TRUE AS tails_small,
        |  TRUE AS symmetric""".stripMargin,
    "q_dist_zipf" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS monotone,
        |  TRUE AS head_mass""".stripMargin,
    "q_dist_exponential" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS monotone,
        |  TRUE AS head_mass""".stripMargin,
    "q_dist_lognormal" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS decreasing_head,
        |  TRUE AS head_mass,
        |  TRUE AS clamp_tail_small""".stripMargin,
    "q_dist_gamma" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS head_mass,
        |  TRUE AS b1_mass,
        |  TRUE AS b2_mass,
        |  TRUE AS tail_tiny""".stripMargin,
    "q_dist_beta" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS mode_second,
        |  TRUE AS decreasing_tail,
        |  TRUE AS masses""".stripMargin,
    "q_dist_pareto" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS monotone,
        |  TRUE AS head_mass""".stripMargin,
    // Largest-remainder slot quantization is exact, so expected counts are
    // exactly 20000 * weight; each count is Binomial with sigma <= 69 and
    // the band is ±500 (±7 sigma).
    "q_dist_weighted" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS a_ok,
        |  TRUE AS b_ok,
        |  TRUE AS c_ok,
        |  TRUE AS d_ok,
        |  TRUE AS total_ok""".stripMargin,

    // ------------------------------------------------------ ranges/lattices
    // Range(10, 50, step 4): lattice {10,14,...,50}, 11 values; all hit
    // across 20000 uniform draws (miss probability ~ 11*(10/11)^20000).
    "q_gen_range_int" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  CAST(11 AS BIGINT) AS n_distinct,
        |  CAST(10 AS BIGINT) AS min_v,
        |  CAST(50 AS BIGINT) AS max_v,
        |  TRUE AS in_bounds,
        |  TRUE AS on_step""".stripMargin,
    // Range(1, 100, step 0.25) as decimal(10,2): (100-1)/0.25+1 = 397
    // lattice points, all hit across 10000 draws (miss ~ 397*e^-25.2);
    // endpoints render as '1.00'/'100.00' at scale 2.
    "q_gen_range_decimal" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(397 AS BIGINT) AS n_distinct,
        |  '1.00' AS min_v,
        |  '100.00' AS max_v,
        |  TRUE AS on_step""".stripMargin,
    // Continuous uniform over [-5,5): quarters are Binomial(20000, 0.25),
    // band ±400 = ±6.5 sigma.
    "q_gen_range_continuous" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_bounds,
        |  TRUE AS balanced""".stripMargin,
    // DateRange(2024-01-01, 2024-12-31, step 7 days): multiples of 7 up to
    // 364 -> 53 lattice dates, all hit across 10000 draws (miss ~
    // 53*e^-188); max = 2024-01-01 + 364d = 2024-12-30 (2024 is a leap
    // year, 366 days, so day 364 lands on Dec 30).
    "q_gen_daterange" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(53 AS BIGINT) AS n_distinct,
        |  '2024-01-01' AS min_dt,
        |  '2024-12-30' AS max_dt,
        |  TRUE AS on_week""".stripMargin,
    // 44640-minute lattice (31 days), 10000 uniform draws:
    // P(no draw in first/last hour) = (1-60/44640)^10000 = e^-13.4;
    // E[distinct] = 44640*(1-e^(-10000/44640)) = 8955, sigma ~ 40.
    "q_gen_timestamp" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  TRUE AS min_near_start,
        |  TRUE AS max_near_end,
        |  TRUE AS distinct_band,
        |  TRUE AS minute_aligned,
        |  TRUE AS in_bounds""".stripMargin,

    // ------------------------------------------------------ text shapes
    // {seq:6} embeds the 1-based row number, so every row is distinct by
    // construction; remaining placeholders are shape-checked by regex.
    "q_gen_pattern" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(10000 AS BIGINT) AS n_distinct,
        |  TRUE AS shape_ok""".stripMargin,
    // Template outputs are pure shape checks (regex per char class) plus
    // the 3-way alternation covering all branches across 10000 draws
    // (miss probability ~ 3*(2/3)^10000).
    "q_gen_template" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  TRUE AS t1_ok,
        |  TRUE AS t2_ok,
        |  TRUE AS t3_ok,
        |  TRUE AS t3_all_alternatives""".stripMargin,
    "q_gen_template_base" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS base_ok,
        |  TRUE AS base_matches""".stripMargin,
    // ILText(1-2 paragraphs, 2-3 sentences, 3-6 words from a 63-word pool):
    // >= 63^6 ~ 2^35.8 equally-likely word sequences per row, so expected
    // collisions among 3000 rows ~ 3000^2 / 2^36.8 < 0.1 — a 2900
    // distinct-count floor leaves a 100-collision margin.
    "q_gen_iltext" ->
      """SELECT CAST(3000 AS BIGINT) AS n,
        |  TRUE AS ends_period,
        |  TRUE AS capitalized,
        |  TRUE AS charset_ok,
        |  TRUE AS high_variety""".stripMargin,

    // ------------------------------------------------------ values lists
    // 3 unweighted values: Binomial(9000, 1/3), E=3000, sigma=44.7, band
    // ±350; total_ok pins that nothing outside the list appears.
    "q_gen_values" ->
      """SELECT CAST(9000 AS BIGINT) AS n,
        |  TRUE AS balanced,
        |  TRUE AS total_ok""".stripMargin,
    // Weighted 0.6/0.3/0.1 over 30000 rows: the reference's 10% contract
    // (function_builder.py:59-63) is ±21 sigma here.
    "q_gen_values_weighted" ->
      """SELECT CAST(30000 AS BIGINT) AS n,
        |  TRUE AS x_within_10pct,
        |  TRUE AS y_within_10pct,
        |  TRUE AS z_within_10pct,
        |  TRUE AS total_ok""".stripMargin,

    // ------------------------------------------------------ seeds/modes
    // All outputs are spec invariants: bounds hold for any seed, repeat
    // builds of a pure hash function agree, chance agreement between
    // decorrelated 90-value streams is ~222 of 20000 (<< 2000), and 20000
    // draws cover >= 60 of 90 values with certainty (coupon collector).
    "q_gen_random_mode" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS in_range,
        |  TRUE AS in_set,
        |  TRUE AS repeatable_hash,
        |  TRUE AS decoupled,
        |  TRUE AS decorrelated,
        |  TRUE AS spread,
        |  TRUE AS repeatable_fixed""".stripMargin,
    // seed_from(value): v is a pure function of base's value by definition.
    "q_gen_seed_from_value" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  TRUE AS functional""".stripMargin,
    // 3x2 = 6 (x,y) combos, all hit across 10000 draws (coupon collector);
    // h is a pure function of the combo, and the 6 hashed values collide in
    // the 100000-point lattice with probability ~ 6^2/2e5 ~ 2e-4, frozen by
    // the deterministic engine.
    "q_gen_seed_from_columns" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(6 AS BIGINT) AS n_h,
        |  TRUE AS functional""".stripMargin,
    // FromColumnValues keys on stringified values (equal across the int and
    // string builds by definition), FromColumns on native-value hashes
    // (chance agreement 10000/100000 = 0.1 rows expected), and \v splicing
    // reproduces the exact values.
    "q_gen_seed_raw_values" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  TRUE AS stringly_equal,
        |  TRUE AS native_hash_differs,
        |  TRUE AS functional,
        |  TRUE AS label_spliced""".stripMargin,

    // ------------------------------------------------------ shapes/structs
    "q_gen_array_feature" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS all_len4,
        |  TRUE AS in_bounds""".stripMargin,
    // Lengths 2..6 = 5 possibilities, all hit across 5000 draws.
    "q_gen_array_of" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS len_in_bounds,
        |  TRUE AS elems_in_bounds,
        |  CAST(5 AS BIGINT) AS n_lens""".stripMargin,
    // 3 values of st.b, all hit across 5000 draws.
    "q_gen_struct" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS a_in_bounds,
        |  CAST(3 AS BIGINT) AS n_b""".stripMargin,
    "q_gen_struct_json" ->
      """SELECT CAST(3000 AS BIGINT) AS n,
        |  TRUE AS json_shape""".stripMargin,
    // Plugin maps seed -> floorMod 97: at most 97 outputs, all hit across
    // 2000 draws (miss ~ 97*e^-20.6).
    "q_gen_plugin" ->
      """SELECT CAST(2000 AS BIGINT) AS n,
        |  TRUE AS shape_ok,
        |  CAST(97 AS BIGINT) AS n_distinct""".stripMargin,

    // ------------------------------------------------------ stat bands
    // 5000 uniform draws over a 5000-value lattice: E[distinct] =
    // 5000*(1-1/e) = 3161, sigma ~ 34 (band ±5 sigma); an affine bijection
    // preserves the distinct count exactly and moves at least one value.
    "q_gen_scatter" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS distinct_preserved,
        |  TRUE AS distinct_band,
        |  TRUE AS differs""".stripMargin,
    // percentNulls=0.15 over 20000 rows: E[null] = 3000, sigma = 50.5; the
    // query's ±2-percentage-point band is ±8 sigma.
    "q_gen_percent_nulls" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  TRUE AS within_2pct""".stripMargin,
    // Email pool of 5000 under 10000 draws: E[distinct] = 5000*(1-e^-2) =
    // 4323, sigma ~ 30 (band ±7 sigma).
    "q_gen_faker" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  TRUE AS email_ok,
        |  TRUE AS name_ok,
        |  TRUE AS email_variety""".stripMargin,
    // FK nulls: orphans impossible by construction (values reconstructed
    // from the parent lattice); percentNulls=0.2 -> E[null] = 2000, the
    // query's ±200 band is ±3.5 sigma... wide enough for the frozen draw.
    "q_gen_fk_null_fraction" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS orphans,
        |  TRUE AS null_frac_ok""".stripMargin,
    // P(row satisfies all three constraints) = 0.25257 exactly under
    // independent uniform draws (sum over the (lo,hi) grid of even counts
    // in [lo,hi]) -> E = 5051; the band [4550, 5750] absorbs cross-column
    // fluctuation yet rejects any dropped constraint (~10100 or ~20000).
    "q_gen_constraints" ->
      """SELECT TRUE AS survivors_band,
        |  TRUE AS all_valid""".stripMargin,

    // ------------------------------------------------------ scripting
    // scriptTable renders one "    name TYPE" line per field in order with
    // USING <format> (io/Scripting.scala contract); the schema here is
    // (k BIGINT, v STRING). merge_ok folds the documented MERGE clause
    // layout into a boolean inside the query.
    "q_gen_script_table" ->
      """SELECT 'CREATE TABLE graft_tbl (' || chr(10) || '    k BIGINT,' || chr(10) || '    v STRING' || chr(10) || ')' || chr(10) || 'USING parquet' AS ddl,
        |  TRUE AS merge_ok""".stripMargin,
    "q_analyzer_script_schema" ->
      """SELECT TRUE AS has_all_fields,
        |  TRUE AS mentions_generator,
        |  TRUE AS covers_fields""".stripMargin,
    "q_analyzer_script_data" ->
      """SELECT TRUE AS has_fields,
        |  TRUE AS has_range,
        |  TRUE AS covers_fields""".stripMargin,
    // DSv2 SQL path vs programmatic engine: rows/tags come straight from
    // the spec; the booleans pin hash equality and shape invariants.
    "q_gen_dsv2" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  CAST(3 AS BIGINT) AS n_tags,
        |  TRUE AS sql_matches_api,
        |  TRUE AS label_shape,
        |  TRUE AS v_in_range""".stripMargin,
    // Bucketed-sink roundtrip: 20000 fact rows x key = k % 100 against a
    // 100-key dim — every fact row joins exactly once; the booleans pin
    // zero-Exchange co-location and the catalog-required guard.
    "q_gen_sink_bucketed" ->
      """SELECT CAST(20000 AS BIGINT) AS n, TRUE AS dim_keys_covered,
        |  TRUE AS zero_exchange_join, TRUE AS path_only_rejected""".stripMargin,
    // Trailing-filter DSv2 shape (filter constraint + random column): the
    // booleans pin that the filter applied, rows survived, and a pruned
    // column-subset read agrees with the full read (the r8 ordinal fix).
    "q_gen_dsv2_filter" ->
      """SELECT TRUE AS nonempty, TRUE AS filtered,
        |  TRUE AS filter_holds, TRUE AS pruned_matches_full""".stripMargin,

    // star_schema.json declares 5000 orders; FK reconstruction makes every
    // child key a parent lattice member, so orphans = 0 by construction.
    "q_gen_serialization" ->
      """SELECT CAST(5000 AS BIGINT) AS n_orders,
        |  TRUE AS roundtrip_ok,
        |  CAST(0 AS BIGINT) AS total_orphans""".stripMargin,

    // ------------------------------------------------------ fluent API
    // rows=20000 and 6 non-omitted columns come straight from the builder
    // spec; the booleans are bound/shape/functional invariants.
    "q_api_iot_fluent" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  CAST(6 AS BIGINT) AS cols,
        |  TRUE AS device_shape,
        |  TRUE AS device_cardinality,
        |  TRUE AS model_shape,
        |  TRUE AS line_functional,
        |  TRUE AS country_in_set,
        |  TRUE AS us_share_10pct,
        |  TRUE AS ts_minute,
        |  TRUE AS ts_bounds""".stripMargin,
    // withSchema keeps the declared 4 fields; 8000 iid continuous pairs
    // are near-all distinct (collision probability ~ 0).
    "q_api_schema_specs" ->
      """SELECT CAST(8000 AS BIGINT) AS n,
        |  CAST(4 AS BIGINT) AS cols,
        |  TRUE AS scores_in_unit,
        |  TRUE AS scores_differ,
        |  TRUE AS labels_ok,
        |  TRUE AS id_seq""".stripMargin,

    // ------------------------------------------------------ dataset providers
    // Row counts are the requested rows; customer_id is a sequence (all
    // distinct); shapes are invariants of the provider's formats.
    "q_dataset_user" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(10000 AS BIGINT) AS id_distinct,
        |  TRUE AS email_shape,
        |  TRUE AS ip_shape,
        |  TRUE AS phone_shape""".stripMargin,
    // numSymbols=50, all hit across 10000 rows; 10000/50 = 200 trade dates.
    "q_dataset_stock_ticker" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  CAST(50 AS BIGINT) AS symbols,
        |  TRUE AS symbol_shape,
        |  TRUE AS hl_ordered,
        |  TRUE AS dates_per_symbol,
        |  TRUE AS volume_pos""".stripMargin,
    // 3000 point rows + 2000 polygon rows, each matching its WKT shape by
    // construction: the *_ok counts equal the row splits.
    "q_dataset_geometries" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  CAST(3000 AS BIGINT) AS points_ok,
        |  CAST(2000 AS BIGINT) AS polys_ok""".stripMargin,
    "q_dataset_telematics" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  TRUE AS devices_le,
        |  TRUE AS lat_bounds,
        |  TRUE AS lon_bounds,
        |  TRUE AS speed_bounds,
        |  TRUE AS heading_bounds,
        |  TRUE AS mostly_on""".stripMargin,
    "q_dataset_process_historian" ->
      """SELECT CAST(10000 AS BIGINT) AS n,
        |  TRUE AS quality_set,
        |  TRUE AS mostly_good,
        |  TRUE AS value_bounds,
        |  TRUE AS value_centered,
        |  TRUE AS tag_shape""".stripMargin,
    // FK reconstruction -> zero orphans; one invoice line_count row per
    // order sums to the line-item count by construction.
    "q_dataset_sales_order" ->
      """SELECT CAST(20000 AS BIGINT) AS n_lines,
        |  CAST(0 AS BIGINT) AS orphans,
        |  TRUE AS invoice_covers_lines,
        |  TRUE AS qty_bounds,
        |  TRUE AS customers_valid,
        |  TRUE AS prices_valid""".stripMargin,
    // groups=50 option, all hit across 20000 rows.
    "q_gen_dataset_groupby" ->
      """SELECT CAST(20000 AS BIGINT) AS n,
        |  CAST(50 AS BIGINT) AS id4_groups,
        |  TRUE AS v1_in_bounds,
        |  TRUE AS v2_in_bounds,
        |  TRUE AS id1_shape""".stripMargin,
    "q_gen_dataset_telephony" ->
      """SELECT CAST(8000 AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS orphans,
        |  TRUE AS types_ok""".stripMargin,
    // The catalog ships exactly 8 providers (datasets/Datasets.scala
    // registry); option validation behaviors are API contracts.
    "q_gen_dataset_options" ->
      """SELECT TRUE AS rejects_unknown,
        |  TRUE AS accepts_known,
        |  TRUE AS describe_lists_options,
        |  CAST(8 AS BIGINT) AS catalog_size""".stripMargin,
    "q_gen_faker_breadth" ->
      """SELECT CAST(5000 AS BIGINT) AS n,
        |  TRUE AS locales_differ,
        |  TRUE AS it_from_pool,
        |  TRUE AS ja_shape,
        |  TRUE AS pl_city_nonempty,
        |  TRUE AS ru_name_shape,
        |  TRUE AS tr_email_ascii,
        |  TRUE AS postcode_shape,
        |  TRUE AS user_shape,
        |  TRUE AS ip_shape,
        |  TRUE AS cc_shape,
        |  TRUE AS codes_shape,
        |  TRUE AS dob_range,
        |  TRUE AS uuid_shape,
        |  TRUE AS job_state_nonempty""".stripMargin,

    // FK by zero-join reconstruction: child keys are parent lattice members
    // by construction, so orphans = 0; Zipf skew is asserted as a boolean
    // inside the query.
    "q_gen_fk_pattern_zipf" ->
      """SELECT CAST(9000 AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS orphans,
        |  TRUE AS skewed""".stripMargin,
    "q_gen_fk_uuid" ->
      """SELECT CAST(6000 AS BIGINT) AS n,
        |  CAST(0 AS BIGINT) AS orphans""".stripMargin,
    // UniqueCombinations over 3 values x 4 lattice points caps output at 12
    // rows; all 12 combos are hit across 10000 draws (coupon collector).
    "q_gen_unique_combinations" ->
      """SELECT CAST(12 AS BIGINT) AS n,
        |  TRUE AS le_12""".stripMargin,

    // --------------------------------------------- table-derived (DuckDB)
    // The file-stream roundtrip must reproduce the source table exactly, so
    // the oracle RECOMPUTES it from documents.parquet instead of pinning.
    "q_gen_stream_parquet" ->
      """SELECT count(doc_id) AS n,
        |  count(DISTINCT doc_id) AS n_docs FROM documents""".stripMargin,

    // Planted near-dup chains: 3 base docs x 4 overlapping 60-token windows
    // (stride 8, adjacent jaccard ~ 0.76 >> threshold 0.5) -> 12 planted
    // rows forming exactly 3 clusters whose min id is the chain head; the
    // booleans assert the designed outcome, the counts are the design.
    "q_dedup_minhash_cc" ->
      """SELECT CAST(12 AS BIGINT) AS n_planted,
        |  TRUE AS chain_map_ok,
        |  TRUE AS n_components_ok,
        |  CAST(3 AS BIGINT) AS n_clusters_with_survivor,
        |  TRUE AS one_survivor_per_cluster,
        |  TRUE AS survivor_is_min""".stripMargin,

    // Incremental dedup, planted: 5 batch variants each sharing 78 of their
    // base's 98 shingles (jaccard ~0.796, certain LSH hit at 64 bands) and 5
    // fresh disjoint-namespace docs (jaccard 0, certain miss after exact
    // verification). Pairs: exactly the 5 (2.1e9+k, 2e9+k) hits, each with
    // batch_id - corpus_id = 1e8; survivors: exactly the 5 fresh ids >= 3e9.
    "q_dedup_incremental" ->
      """SELECT CAST(5 AS BIGINT) AS n_pairs,
        |  CAST(500000000 AS BIGINT) AS sum_delta,
        |  CAST(5 AS BIGINT) AS n_survivors,
        |  TRUE AS survivors_all_fresh""".stripMargin,

    // Streaming near-dup verdicts, planted: batch-1 originals (ids 1-6)
    // and the batch-2 fresh docs (201-203) claim every band -> kept; the
    // batch-2 variants (1001-1003) hit bands their batch-1 bases already
    // claimed -> flagged. The sentinel's window never closes, so it does
    // not appear. Windows start at the planted event times.
    "q_dedup_stream" ->
      """SELECT * FROM (VALUES
        |  ('2024-01-01 00:00:00', CAST(1 AS BIGINT), true),
        |  ('2024-01-01 00:00:00', CAST(2 AS BIGINT), true),
        |  ('2024-01-01 00:00:00', CAST(3 AS BIGINT), true),
        |  ('2024-01-01 00:00:00', CAST(4 AS BIGINT), true),
        |  ('2024-01-01 00:00:00', CAST(5 AS BIGINT), true),
        |  ('2024-01-01 00:00:00', CAST(6 AS BIGINT), true),
        |  ('2024-01-01 00:10:00', CAST(201 AS BIGINT), true),
        |  ('2024-01-01 00:10:00', CAST(202 AS BIGINT), true),
        |  ('2024-01-01 00:10:00', CAST(203 AS BIGINT), true),
        |  ('2024-01-01 00:10:00', CAST(1001 AS BIGINT), false),
        |  ('2024-01-01 00:10:00', CAST(1002 AS BIGINT), false),
        |  ('2024-01-01 00:10:00', CAST(1003 AS BIGINT), false)
        |) t(w, id, kept) ORDER BY id""".stripMargin,

    // (q_dedup_minhash_recall's oracle moved to LlmQueries.oracles as a
    // genuine inverted-index replay — its former n_exact pin was
    // sf0.01-only and failed the sf0.1 gate.)

    // Hash split 80/10/10 by doc_id: the total and split-name coverage are
    // exact (every row gets exactly one of the three names); per-split
    // counts are Binomial(n, p) under the uniform hash fraction, checked
    // Spark-side as 6-sigma bands (miss probability < 2e-9 per band, and
    // the deterministic hash freezes the draw — stable across runs).
    "q_sample_split" ->
      """SELECT (SELECT count(*) FROM documents) AS n,
        |  TRUE AS parts_sum_ok,
        |  TRUE AS train_band,
        |  TRUE AS val_band,
        |  TRUE AS test_band""".stripMargin,

    // Exact-size hash sample: 100 of the 500 docs by smallest key hash.
    // Size is exact by construction; monotone containment (top-50 inside
    // top-100) and rerun stability are properties of the frozen hash order.
    "q_sample_n" ->
      """SELECT CAST(100 AS BIGINT) AS n,
        |  TRUE AS monotone_ok,
        |  TRUE AS deterministic_ok""".stripMargin,

    // Mixture 2.0/0.5/1.3 over disjoint source slices: integer-weight
    // epochs are exact full copies (n_a = 2x|src0 U src1|, c epoch 0 =
    // |src3| — both recomputed from the table); fractional epochs are
    // hash-Bernoulli, checked as 6-sigma bands; b (weight 0.5) never
    // reaches epoch 1.
    "q_corpus_mix" ->
      """SELECT
        |  CAST(2 * (SELECT count(*) FROM documents WHERE source IN ('src0','src1'))
        |    AS BIGINT) AS n_a,
        |  CAST((SELECT count(*) FROM documents WHERE source = 'src3') AS BIGINT)
        |    AS n_c_epoch0,
        |  TRUE AS b_band,
        |  TRUE AS c_frac_band,
        |  TRUE AS b_epoch_ok""".stripMargin)
}
