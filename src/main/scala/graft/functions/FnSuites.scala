package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{dbl, dec}
import graft.sources.Tables

/** §2.7 scalar function suites — one deterministic projection per
  * family, all codegen'd built-ins (no UDFs in the hot path).
  *
  * Dialect traps handled per SURVEY §7.4: Spark `dayofweek` is Sun=1
  * vs DuckDB Sun=0 (+1 on the oracle side); DuckDB `regexp_replace`
  * needs the 'g' flag to match Spark's replace-all; DuckDB
  * `floor`/`len`/rank-family return wider types than Spark, so both
  * sides cast to a pinned type; transcendental results are presented
  * as DECIMAL(18,6) so sub-ulp libm drift can't flip a hash.
  */
object FnSuites {

  def fnString(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        substring(col("p_name"), 1, 8).as("sub"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("trimmed"),
        concat_ws("-", col("p_brand"), col("p_type")).as("cat"),
        lpad(col("p_brand"), 10, "*").as("pad"),
        length(col("p_name")).cast("int").as("len"),
        element_at(split(col("p_name"), " "), 1).as("first_tok"),
        regexp_extract(col("p_name"), "([0-9]+)", 1).as("digits"),
        regexp_replace(col("p_name"), "a", "@").as("repl"))
      .orderBy("p_partkey")

  def fnDate(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        year(col("o_orderdate")).cast("int").as("yr"),
        month(col("o_orderdate")).cast("int").as("mo"),
        dayofweek(col("o_orderdate")).cast("int").as("dow"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate")).cast("int").as("days_to_2002"),
        date_add(col("o_orderdate"), 30).as("plus30"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))
      .orderBy("o_orderkey")

  def fnMath(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        dbl(round(dec("p_retailprice"), 1)).as("r1"),
        dbl(abs(dec("p_retailprice") - lit(950).cast("decimal(18,2)")).cast("decimal(18,2)")).as("ab"),
        dbl(sqrt(col("p_size")).cast("decimal(18,6)")).as("sq"),
        dbl(log(col("p_size")).cast("decimal(18,6)")).as("l_n"),
        dbl(log10(col("p_size")).cast("decimal(18,6)")).as("l10"),
        dbl(pow(col("p_size"), 2).cast("decimal(18,6)")).as("pw"),
        pmod(col("p_size") - 25, lit(7)).cast("int").as("pm"),
        floor(col("p_retailprice")).cast("bigint").as("fl"),
        ceil(col("p_retailprice")).cast("bigint").as("ce"),
        signum(col("p_retailprice") - 950).cast("int").as("sg"))
      .orderBy("p_partkey")

  /** Array-function suite. Output columns are all SCALAR: the driver's
    * comparator sorts result frames with pandas, which crashes on
    * array-typed cells — so the sorted first-5 slice is emitted as five
    * float columns instead of one array column (SURVEY §7.4 rule:
    * no array/map outputs in oracle'd queries).
    */
  def fnArray(s: SparkSession, dir: String): DataFrame = {
    val first5 = sort_array(slice(col("embedding"), 1, 5))
    Tables.embeddings(s, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("int").as("dim"),
        expr("size(filter(embedding, x -> x > 0))").cast("int").as("n_pos"),
        first5.getItem(0).as("s1"),
        first5.getItem(1).as("s2"),
        first5.getItem(2).as("s3"),
        first5.getItem(3).as("s4"),
        first5.getItem(4).as("s5"),
        array_max(col("embedding")).as("vmax"),
        array_min(col("embedding")).as("vmin"),
        dbl(expr("CAST(aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS DECIMAL(18,6))"))
          .as("sum_all"),
        dbl(expr("CAST(aggregate(zip_with(embedding, embedding, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS DECIMAL(18,6))"))
          .as("dot_self"))
      .orderBy("vec_id")
  }

  /** Map/JSON suite. Keys are emitted as a sorted CSV string (not an
    * array column — see fnArray note) and vals_sum folds over ALL map
    * entries, mirrored by the oracle's json_keys-driven fold.
    */
  def fnMapJson(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("m", from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)))
      .select(
        col("event_id"),
        array_join(sort_array(map_keys(col("m"))), ",").as("keys_csv"),
        size(col("m")).cast("int").as("n_keys"),
        element_at(col("m"), "k").as("k_val"),
        // null-skipping sum, matching DuckDB list_aggregate('sum')
        // semantics (which ignores NULL elements) — a raw fold would
        // null-propagate and diverge on a {"k": null} entry
        expr("aggregate(filter(map_values(m), v -> v IS NOT NULL), 0, (a, b) -> a + b)")
          .cast("int").as("vals_sum"))
      .orderBy("event_id")

  /** Null-handling suite: nulls manufactured with nullif, then
    * coalesce/ifnull/null-safe comparisons over them.
    */
  def fnNull(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .withColumn("seg_or_null", nullif(col("c_mktsegment"), lit("BUILDING")))
      .select(
        col("c_custkey"),
        col("seg_or_null"),
        coalesce(col("seg_or_null"), lit("(none)")).as("seg_filled"),
        expr("ifnull(seg_or_null, 'dflt')").as("seg_ifnull"),
        col("seg_or_null").isNull.as("is_b"),
        (col("seg_or_null") <=> lit("MACHINERY")).as("ns_eq"))
      .orderBy("c_custkey")

  /** Bitwise suite: shifts, and/or/xor, bit_count — over the part size
    * (int) and key (long), all codegen'd built-ins.
    */
  def fnBitwise(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(
        col("p_partkey"),
        shiftleft(col("p_size"), 3).cast("int").as("shl"),
        shiftright(col("p_size"), 1).cast("int").as("shr"),
        (col("p_size").bitwiseAND(lit(0x0f))).cast("int").as("band"),
        (col("p_size").bitwiseOR(lit(0x10))).cast("int").as("bor"),
        (col("p_partkey").bitwiseXOR(lit(0x5555L))).as("bxor"),
        bit_count(col("p_partkey")).cast("int").as("popcnt"))
      .orderBy("p_partkey")

  /** §2.13 (round-4) Z-order layout key: `morton(x, y)` — the codegen'd
    * Morton-interleave Catalyst expression (graft.functions
    * .MortonInterleave). Sorting a write by this key is the
    * multi-dimensional clustering layout (Delta OPTIMIZE ZORDER /
    * Iceberg z-ordered rewrite shape): parquet row-group min/max get
    * tight in BOTH dimensions, so scans filtered on either column prune
    * row groups. The query proves the bit-exact interleave against the
    * oracle's shift/mask arithmetic; ZOrderSpec proves the layout
    * property (aligned z-chunks are exact squares) and codegen parity.
    */
  def fnZorder(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir)
      .select(col("p_partkey"),
        col("p_size").cast("bigint").as("x"),
        pmod(col("p_partkey"), lit(1024)).cast("bigint").as("y"))
      .select(col("p_partkey"), col("x"), col("y"),
        expr("morton(x, y)").as("z"))
      .orderBy("z", "p_partkey")
  }

  /** The oracle replays the identical five shift/mask spread rounds in
    * DuckDB BIGINT arithmetic (masks as decimal literals), chained
    * through CTEs so each round is computed once per dimension.
    */
  private val spreadRounds: Seq[(Int, Long)] = Seq(
    16 -> 0x0000FFFF0000FFFFL, 8 -> 0x00FF00FF00FF00FFL,
    4 -> 0x0F0F0F0F0F0F0F0FL, 2 -> 0x3333333333333333L,
    1 -> 0x5555555555555555L)

  private val zorderSql: String = {
    val rounds = spreadRounds.zipWithIndex.map { case ((sh, mask), i) =>
      val prev = if (i == 0) "a" else s"r$i"
      s"""r${i + 1} AS (SELECT p_partkey, ox, oy,
         |  ((x | (x << $sh)) & $mask) AS x,
         |  ((y | (y << $sh)) & $mask) AS y FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH a AS (SELECT p_partkey,
       |    CAST(p_size AS BIGINT) AS ox,
       |    CAST(p_partkey % 1024 AS BIGINT) AS oy,
       |    CAST(p_size AS BIGINT) & 4294967295 AS x,
       |    CAST(p_partkey % 1024 AS BIGINT) & 4294967295 AS y FROM part),
       |$rounds
       |SELECT p_partkey, ox AS x, oy AS y, (x | (y << 1)) AS z
       |FROM r5 ORDER BY z, p_partkey""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_fn_zorder" -> fnZorder,
    "q_fn_bitwise" -> fnBitwise,
    "q_fn_string" -> fnString,
    "q_fn_null" -> fnNull,
    "q_fn_date" -> fnDate,
    "q_fn_math" -> fnMath,
    "q_fn_array" -> fnArray,
    "q_fn_map_json" -> fnMapJson
  )

  val oracle: Map[String, String] = Map(
    "q_fn_zorder" -> zorderSql,
    "q_fn_bitwise" ->
      """SELECT p_partkey,
        |  CAST(p_size << 3 AS INTEGER) AS shl,
        |  CAST(p_size >> 1 AS INTEGER) AS shr,
        |  CAST(p_size & 15 AS INTEGER) AS band,
        |  CAST(p_size | 16 AS INTEGER) AS bor,
        |  CAST(xor(p_partkey, 21845) AS BIGINT) AS bxor,
        |  CAST(bit_count(p_partkey) AS INTEGER) AS popcnt
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q_fn_string" ->
      """SELECT p_partkey,
        |  substring(p_name, 1, 8) AS sub,
        |  upper(p_name) AS up,
        |  lower(p_brand) AS lo,
        |  trim('  ' || p_name || '  ') AS trimmed,
        |  concat_ws('-', p_brand, p_type) AS cat,
        |  lpad(p_brand, 10, '*') AS pad,
        |  CAST(length(p_name) AS INTEGER) AS len,
        |  string_split(p_name, ' ')[1] AS first_tok,
        |  regexp_extract(p_name, '([0-9]+)', 1) AS digits,
        |  regexp_replace(p_name, 'a', '@', 'g') AS repl
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q_fn_null" ->
      """SELECT c_custkey,
        |  nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
        |  coalesce(nullif(c_mktsegment, 'BUILDING'), '(none)') AS seg_filled,
        |  ifnull(nullif(c_mktsegment, 'BUILDING'), 'dflt') AS seg_ifnull,
        |  nullif(c_mktsegment, 'BUILDING') IS NULL AS is_b,
        |  nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM 'MACHINERY' AS ns_eq
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q_fn_date" ->
      """SELECT o_orderkey,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus30,
        |  date_diff('second', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS epoch_s
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q_fn_math" ->
      """SELECT p_partkey,
        |  CAST(round(CAST(p_retailprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS r1,
        |  CAST(CAST(abs(CAST(p_retailprice AS DECIMAL(18,2)) - CAST(950 AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS ab,
        |  CAST(CAST(sqrt(p_size) AS DECIMAL(18,6)) AS DOUBLE) AS sq,
        |  CAST(CAST(ln(p_size) AS DECIMAL(18,6)) AS DOUBLE) AS l_n,
        |  CAST(CAST(log10(p_size) AS DECIMAL(18,6)) AS DOUBLE) AS l10,
        |  CAST(CAST(pow(p_size, 2) AS DECIMAL(18,6)) AS DOUBLE) AS pw,
        |  CAST(((p_size - 25) % 7 + 7) % 7 AS INTEGER) AS pm,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        |  CAST(sign(p_retailprice - 950) AS INTEGER) AS sg
        |FROM part
        |ORDER BY p_partkey""".stripMargin,
    "q_fn_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |  list_sort(embedding[1:5])[1] AS s1,
        |  list_sort(embedding[1:5])[2] AS s2,
        |  list_sort(embedding[1:5])[3] AS s3,
        |  list_sort(embedding[1:5])[4] AS s4,
        |  list_sort(embedding[1:5])[5] AS s5,
        |  list_aggregate(embedding, 'max') AS vmax,
        |  list_aggregate(embedding, 'min') AS vmin,
        |  CAST(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') AS DECIMAL(18,6)) AS DOUBLE) AS sum_all,
        |  CAST(CAST(list_aggregate(list_transform(embedding, x -> CAST(x * x AS DOUBLE)), 'sum') AS DECIMAL(18,6)) AS DOUBLE) AS dot_self
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,
    // The `ok` CTE mirrors Spark's PERMISSIVE from_json contract
    // (measured): the WHOLE map is NULL unless props parses as a JSON
    // OBJECT whose every non-null value is an integral JSON number in
    // int range — per-entry TRY_CAST alone diverges three ways on
    // corrupt props (a NULL/malformed props read 0 through the old
    // unscoped coalesce where Spark says NULL; a wrong-typed value
    // killed DuckDB at the plain-CAST k_val, the q_source_json class;
    // and DuckDB TRY_CAST ROUNDS '2.5' to 3 where Spark rejects the
    // map). TRY_CAST(props AS JSON) everywhere so no corrupt shape can
    // throw; coalesce('') matches Spark's array_join over the empty
    // map's key list. Bit-identical on valid-object rows (the whole
    // fixture); keys are assumed dot/quote-free and UNIQUE (the
    // '$.'||k paths misroute on pathological keys, and on duplicate
    // keys DuckDB doubles json_keys and extracts the FIRST value
    // where Spark's map keeps the LAST — both classes are
    // generator-unreachable and the Spark side is the contract).
    "q_fn_map_json" ->
      """WITH e AS (
        |  SELECT event_id, TRY_CAST(props AS JSON) AS jp FROM events),
        |v AS (
        |  SELECT event_id, jp,
        |    (json_type(jp) = 'OBJECT'
        |     AND len(list_filter(CAST(json_keys(jp) AS VARCHAR[]),
        |           k -> json_type(jp, '$.' || k) <> 'NULL'
        |                AND NOT (json_type(jp, '$.' || k) IN ('UBIGINT', 'BIGINT')
        |                         AND TRY_CAST(json_extract_string(jp, '$.' || k) AS INTEGER) IS NOT NULL))) = 0) AS ok
        |  FROM e)
        |SELECT event_id,
        |  CASE WHEN ok THEN coalesce(array_to_string(list_sort(CAST(json_keys(jp) AS VARCHAR[])), ','), '') END AS keys_csv,
        |  CASE WHEN ok THEN CAST(len(json_keys(jp)) AS INTEGER) END AS n_keys,
        |  CASE WHEN ok THEN TRY_CAST(json_extract_string(jp, '$.k') AS INTEGER) END AS k_val,
        |  CASE WHEN ok THEN CAST(coalesce(list_aggregate(list_transform(CAST(json_keys(jp) AS VARCHAR[]),
        |    k -> TRY_CAST(json_extract_string(jp, '$.' || k) AS INTEGER)), 'sum'), 0) AS INTEGER) END AS vals_sum
        |FROM v
        |ORDER BY event_id""".stripMargin
  )
}
