package perfbench

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spec._
import graft.spec.ColumnStrategy._

/** Every input the benchmark feeds the program, built from the workload
  * seed. Nothing is read from outside the benchmark's own files. */
object Inputs {

  private def c(n: String, t: String, s: ColumnStrategy) = ColumnSpec(n, t, s)

  /** The 9-column IOT device table (the shape of the legacy billion-row
    * example: sequence ids, a printf-formatted id, weighted value lists,
    * a pattern, a range, a phone template and a minute-lattice timestamp). */
  def iot(rows: Long, partitions: Int): TableSpec = TableSpec("iot", rows, Seq(
    c("internal_device_id", "bigint", Sequence(0x100000000L, 1)),
    c("device_id", "string", Sequence(0x100000000L, 1)).copy(format = Some("0x%013x")),
    c("country", "string", Values(
      Seq("US", "UK", "DE", "FR", "JP", "CN", "IN", "BR"),
      Seq(0.3, 0.1, 0.1, 0.1, 0.1, 0.15, 0.1, 0.05))),
    c("manufacturer", "string", Values(
      Seq("Delta corp", "Xyzzy Inc.", "Lakehouse Ltd", "Acme Corp", "Embanks Devices"))),
    c("line", "string", Pattern("ln-{alpha:8}")),
    c("model_ser", "int", Range(1, 11, Some(1))),
    c("event_type", "string", Values(
      Seq("activation", "deactivation", "plan change", "telecoms activity",
        "internet activity", "device error"),
      Seq(0.1, 0.05, 0.05, 0.3, 0.4, 0.1))),
    c("phone_number", "string", Template("(ddd)-ddd-dddd")),
    c("event_ts", "timestamp", Timestamp(Instant.parse("2020-01-01T00:00:00Z"),
      Instant.parse("2020-12-31T23:59:00Z"), 60))),
    partitions = Some(partitions))

  /** regions -> customers -> products -> orders -> order_items: the star
    * schema of the engine's integration fixture with the three PK kinds
    * (sequence, pattern, uuid) and Zipf FKs. Customers, orders and
    * order_items are the fixture's rows times `scale`; products are the
    * fixture's 100 times ten, so the Zipf FKs spread over more keys; regions
    * stay at 10. The dimension tables stay small, so one iteration mixes
    * tiny and large writes.
    *
    * The fixture's customer key is `CUST-{digit:6}`. `{digit:N}` draws
    * hashed digits per row, so as a key it collides by the birthday bound
    * (about 1 in 8 fixtures at 500 rows, thousands of duplicates at the
    * scaled size) although the planner accepts it; the benchmark keys
    * customers with `{seq:8}` so its unique-PK check tests the engine's
    * reconstruction, not that collision. */
  def star(scale: Int): Seq[TableSpec] = Seq(
    TableSpec("regions", 10, Seq(
      c("region_id", "bigint", Sequence(1, 1)),
      c("region_name", "string", Values(Seq("north", "south", "east", "west", "central",
        "northeast", "northwest", "southeast", "southwest", "offshore")))),
      primaryKey = Some(PrimaryKey("region_id"))),
    TableSpec("customers", 500L * scale, Seq(
      c("customer_id", "string", Pattern("CUST-{seq:8}")),
      c("region_id", "bigint", ForeignKey("regions", "region_id", Distribution.Zipf(1.3))),
      c("tier", "string", Values(Seq("bronze", "silver", "gold", "platinum"),
        Seq(0.5, 0.3, 0.15, 0.05)))),
      primaryKey = Some(PrimaryKey("customer_id"))),
    TableSpec("products", 1000, Seq(
      c("product_id", "string", Uuid),
      c("price", "double", Range(1.0, 999.99))),
      primaryKey = Some(PrimaryKey("product_id"))),
    TableSpec("orders", 5000L * scale, Seq(
      c("order_id", "bigint", Sequence(1, 1)),
      c("customer_id", "string", ForeignKey("customers", "customer_id")),
      c("product_id", "string", ForeignKey("products", "product_id", Distribution.Zipf(1.3)))),
      primaryKey = Some(PrimaryKey("order_id"))),
    TableSpec("order_items", 2000L * scale, Seq(
      c("item_id", "bigint", Sequence(1, 1)),
      c("order_id", "bigint", ForeignKey("orders", "order_id")),
      c("product_id", "string", ForeignKey("products", "product_id"))),
      primaryKey = Some(PrimaryKey("item_id"))))

  /** Text corpus with a planted fate per document, keyed on `id % 17`:
    * 1 French (dropped by langid), 2 punctuation spam (dropped by quality),
    * 3 repeated lines (shrunk by line dedup), 4 an exact copy of doc id-4,
    * 5 a near copy of doc id-5 (one extra token: shingle jaccard 0.95),
    * anything else a unique English document. English interiors come from
    * Zipf-weighted template families per 2000-doc block, so near-dup
    * buckets stay small (no bucket cap is needed) while family-mates are
    * far below the near-dup threshold. `salt` (from the seed) picks the
    * families. Survival per stage follows from the id arithmetic alone —
    * see [[expectedSurvivors]]. */
  def corpus(spark: SparkSession, n: Long, salt: Long): DataFrame = {
    val id = col("id")
    val i = id.cast("string")
    val body = when(pmod(id, lit(17)) === 1, concat(lit("le chat et le chien sont dans " +
        "la maison avec les amis et la famille w"), i))
      .when(pmod(id, lit(17)) === 2, lit("the it was " +
        Seq("!", "?", "@", "#", "$", "%", "^").map(_ * 20).mkString(" ")))
      .when(pmod(id, lit(17)) === 3, concat(
        lit("the "), famWord(id, "p", salt), lit(" sat on the "),
        famWord(id, "q", salt), lit(" with w"), i, lit("x\n"),
        lit("it was "), famWord(id, "r", salt), lit(" and it is "),
        famWord(id, "t", salt), lit(" w"), i, lit("y\n"),
        lit("it was "), famWord(id, "r", salt), lit(" and it is "),
        famWord(id, "t", salt), lit(" w"), i, lit("y")))
      .when(pmod(id, lit(17)) === 4, english(id - 4, salt))
      .when(pmod(id, lit(17)) === 5, concat(english(id - 5, salt), lit(" extra")))
      .otherwise(english(id, salt))
    spark.range(n).toDF("id").select(id.as("doc_id"), body.as("text"))
  }

  /** 64 evaluation documents, each the text of an English corpus document
    * (ids 6, 23, 40, ...), so decontamination drops exactly those. */
  def evalDocs(spark: SparkSession, n: Long, salt: Long): DataFrame =
    spark.range(64).toDF("k")
      .select((col("k") + n + 7L).as("doc_id"), english(col("k") * 17 + 6, salt).as("text"))

  /** Rows out of each curation stage for an `n`-doc corpus. */
  def expectedSurvivors(n: Long): Seq[(String, Long)] = {
    def cnt(k: Long): Long = n / 17 + (if (k < n % 17) 1L else 0L)
    val afterLang = n - cnt(1)
    val afterQual = afterLang - cnt(2)
    val afterExact = afterQual - cnt(4)
    val afterNear = afterExact - cnt(5)
    Seq("input" -> n, "fix_encoding" -> n, "html_extract" -> n,
      "langid_filter" -> afterLang, "quality_filter" -> afterQual,
      "line_dedup" -> afterQual, "exact_dedup" -> afterExact,
      "near_dedup" -> afterNear, "decontaminate" -> (afterNear - math.min(64L, cnt(6))))
  }

  // Letter-encoded family word: rank = floor(1000^u) for a hash-uniform u
  // (Zipf(1) over 1000 ranks), family = (2000-doc block, rank). Letters,
  // not digits, keep the quality filter's alpha ratio up.
  private def famWord(id: Column, tag: String, salt: Long): Column = {
    val u = (pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast("double") + 0.5) / 1000000.0
    val rank = floor(pow(lit(1000.0), u)).cast("long")
    val fam = (id / 2000L).cast("long") * 1009L + rank
    concat(lit("s"), translate(fam.cast("string"), "0123456789", "abcdefghij"), lit(tag))
  }

  // `id` must stay a long column: famWord hashes its value.
  private def english(id: Column, salt: Long): Column = {
    val is = id.cast("string")
    concat(lit("w"), is,
      lit("a the "), famWord(id, "a", salt), lit(" "), famWord(id, "b", salt),
      lit(" "), famWord(id, "c", salt), lit(" over the "), famWord(id, "d", salt),
      lit(" "), famWord(id, "e", salt), lit(" "), famWord(id, "f", salt),
      lit(" w"), is,
      lit("b it was "), famWord(id, "g", salt), lit(" that it is "),
      famWord(id, "h", salt), lit(" and now w"), is, lit("c"))
  }
}
