package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle-checked proofs of the reference's OWN operators (SURVEY §2.1
  * S3, §2.2 F1–F6, §2.3 T1) expressed over the driver-generated parquet
  * star schema — the repair pipeline semantics are exercised by
  * synthesizing delimited/typed-text columns from table data and then
  * applying the exact F1–F4 transforms, so DuckDB can replay the same
  * logic as the oracle.
  */
object EtlQueries {
  import Q._

  /** Engine-neutral ANSI SQL run verbatim by BOTH Spark (through the
    * SqlSource file path) and the DuckDB oracle. */
  private val SqlFileE2eText =
    """SELECT n_name, o_orderpriority,
      |       count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS revenue
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name IN ('ASIA', 'EUROPE') AND o_orderstatus = 'F'
      |GROUP BY n_name, o_orderpriority
      |ORDER BY n_name, o_orderpriority""".stripMargin

  /** The on-disk `.sql` fixture, created ONCE per JVM (the query runs
    * many times per bench/determinism sweep) and removed on exit. */
  private lazy val sqlFixtureDir: String = {
    val d = fixtureDir("graft_sqlsrc")
    java.nio.file.Files.write(d.resolve("agg.sql"),
      SqlFileE2eText.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.toString
  }

  /** Temp views the shared SQL text resolves against, registered once
    * per (session, data dir) instead of on every invocation — and
    * re-registered only when the same session switches data dirs. */
  /** On-disk REPEATED-mode fixture (S5 end-to-end): a `;`-CSV whose
    * third column is a REPEATED INTEGER cell (`|`-separated elements —
    * see Repair.coerce), plus the YAML schema file declaring it.
    * Exercises the full chain schema-file → StructType → ingest →
    * arity filter → lenient element coercion. Created once per JVM. */
  private val RepeatedCsvText = Seq(
    "ID;NAME;VALS", // header row (skipHeaders default)
    "0;alpha;1|2|3",
    // NB: no unparseable elements here — a NULL inside a list becomes a
    // numpy MaskedArray in the DuckDB→pandas bridge, which comparators
    // may not canonicalize; the NULL-element coercion is spec-covered
    // in CsvIngestSpec instead
    "1;beta;4|5|6",
    "2;gamma;", // empty cell -> NULL array
    "3;delta;7",
    "junk-row-wrong-arity", // dropped by the arity filter
    "4;epsilon;8|9").mkString("\n")
  private val RepeatedSchemaYaml =
    """fields:
      |  - name: ID
      |    type: INTEGER
      |    mode: REQUIRED
      |  - name: NAME
      |    type: STRING
      |    mode: NULLABLE
      |  - name: VALS
      |    type: INTEGER
      |    mode: REPEATED
      |""".stripMargin
  private lazy val repeatedFixture: (String, java.nio.file.Path) = {
    val d = fixtureDir("graft_repeated")
    val csv = d.resolve("seq_202109.csv")
    java.nio.file.Files.write(csv, RepeatedCsvText.getBytes(
      java.nio.charset.StandardCharsets.ISO_8859_1))
    val sch = d.resolve("seq_schema.yaml")
    java.nio.file.Files.write(sch, RepeatedSchemaYaml.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    (csv.toString, sch)
  }

  // keyed by session UUID (not the session itself) so old sessions are
  // not strongly retained; compute() registers the views BEFORE the new
  // dir becomes visible and serializes concurrent callers per session,
  // so a racing caller can never skip registration and run against
  // missing or stale-dir views
  private val sqlViewsFor =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def sessionKey(s: org.apache.spark.sql.SparkSession): String =
    // sessionUUID is private[sql] at the Scala level but public in
    // bytecode; reflection keeps the key stable per session without
    // strongly retaining the session itself
    try s.getClass.getMethod("sessionUUID").invoke(s).toString
    catch { case _: ReflectiveOperationException =>
      "id@" + System.identityHashCode(s) }
  private def ensureSqlViews(s: org.apache.spark.sql.SparkSession,
                             dir: String): Unit =
    sqlViewsFor.compute(sessionKey(s), (_, prev) => {
      if (prev != dir)
        Seq("orders", "customer", "nation", "region")
          .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      dir
    })

  val specs: Seq[Spec] = Seq(

    // F5/F6 — the flagship projection+conjunctive filter shape
    // (`assets/big_US_cars.sql:1-2`: string equality AND numeric
    // threshold) over lineitem. Filter + pruned projection both push to
    // the parquet scan.
    Spec("q_flagship_filter",
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
      // so the ORDER BY covers the projected price too — total order on
      // every emitted column (InputOrderInvarianceSpec caught the tie)
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "A" && col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice")),
      Some("""SELECT l_orderkey, l_linenumber, l_extendedprice
             FROM lineitem WHERE l_returnflag = 'A' AND l_quantity > 45
             ORDER BY l_orderkey, l_linenumber, l_extendedprice""")),

    // S6+S8 E2E — the reference's delegated-SQL centerpiece
    // (`functions/load_query/main.py:47-57`) as a gate row: a
    // multi-join `.sql` FILE is materialized, fetched through the S6
    // SqlSource (extension gate + existence check), handed to the
    // engine's full SQL front-end, and oracle-checked. The text is ANSI
    // shared verbatim with DuckDB — the oracle IS the same file
    // content, so the whole parse→plan→execute path is what's under
    // test, not a re-derivation.
    Spec("q_sql_file_e2e",
      (s, dir) => {
        ensureSqlViews(s, dir)
        s.sql(graft.sources.SqlSource.readQuery(s, sqlFixtureDir, "agg.sql"))
      },
      Some(SqlFileE2eText)),

    // S3/F1 — quote-less `;`-CSV arity filter (`main.py:101-103`):
    // rebuild a raw line from nation, corrupt every 5th row with an
    // extra field, keep only rows whose split arity == schema arity.
    Spec("q_csv_arity_filter",
      (s, dir) => {
        val line = concat_ws(";", col("n_nationkey"), col("n_name"),
          col("n_regionkey"))
        t(s, dir, "nation")
          .select(col("n_nationkey").as("k"),
            when(col("n_nationkey") % 5 === 0, concat(line, lit(";junk")))
              .otherwise(line).as("raw"))
          .filter(size(split(col("raw"), ";")) === 3)
          .select(col("k"),
            split(col("raw"), ";").getItem(1).as("n_name"))
          .orderBy(col("k"))
      },
      Some("""WITH raw AS (
               SELECT n_nationkey AS k,
                      CASE WHEN n_nationkey % 5 = 0
                           THEN concat_ws(';', n_nationkey, n_name, n_regionkey, 'junk')
                           ELSE concat_ws(';', n_nationkey, n_name, n_regionkey)
                      END AS raw
               FROM nation)
             SELECT k, string_split(raw, ';')[2] AS n_name
             FROM raw WHERE len(string_split(raw, ';')) = 3
             ORDER BY k""")),

    // S5 REPEATED end-to-end: the YAML schema's `mode: REPEATED` field
    // drives a real on-disk CSV through CsvIngest.read — header skip,
    // arity drop, and per-element lenient coercion all land in the
    // typed array column. The oracle replays the raw lines as VALUES
    // and the identical parse in DuckDB list functions. The gate
    // PROJECTION scalarizes the array (joined string + length): the
    // driver's pandas-based compare sorts result columns and cannot
    // hash a raw list cell (r5: "unhashable type: numpy.ndarray"); the
    // typed ArrayType column is still what these derivations consume,
    // and is asserted directly in CsvIngestSpec.
    Spec("q_csv_repeated_e2e",
      (s, _) => {
        val (csv, sch) = repeatedFixture
        val schema = graft.sources.SchemaIO.parseFile(sch)
        graft.sources.CsvIngest.read(s, csv, schema)
          .select(col("ID").as("id"), col("NAME").as("name"),
            array_join(col("VALS").cast("array<string>"), "|").as("vals_str"),
            when(col("VALS").isNull, lit(null).cast("bigint"))
              .otherwise(size(col("VALS")).cast("bigint")).as("n_vals"))
          .orderBy(col("id"))
      },
      Some("""WITH lines(line) AS (VALUES
               ('0;alpha;1|2|3'), ('1;beta;4|5|6'), ('2;gamma;'),
               ('3;delta;7'), ('junk-row-wrong-arity'), ('4;epsilon;8|9')),
             cells AS (
               SELECT string_split(line, ';') AS c FROM lines
               WHERE len(string_split(line, ';')) = 3),
             parsed AS (
               SELECT CAST(c[1] AS BIGINT) AS id, c[2] AS name,
                      CASE WHEN c[3] = '' THEN NULL
                           ELSE list_transform(string_split(c[3], '|'),
                                               x -> TRY_CAST(x AS BIGINT))
                      END AS vals
               FROM cells)
             SELECT id, name, array_to_string(vals, '|') AS vals_str,
                    CAST(len(vals) AS BIGINT) AS n_vals
             FROM parsed ORDER BY id""")),

    // F2 — lenient INTEGER coercion (`main.py:111-115`): mixed
    // valid-int / alphabetic strings; unparseable → NULL. (Decimal
    // strings are deliberately absent: DuckDB TRY_CAST rounds '12.5'
    // while Python int() and Spark try_cast null it — SURVEY §7 risk.)
    Spec("q_repair_try_int",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          when(col("event_id") % 3 === 0, col("user_id").cast(StringType))
            .when(col("event_id") % 3 === 1, col("event_type"))
            .otherwise(concat(lit("  "), col("user_id").cast(StringType), lit(" ")))
            .as("raw"))
        .select(col("event_id"), col("raw"),
          Repair.lenientLong(col("raw")).as("parsed"))
        .orderBy(col("event_id")),
      Some("""WITH raw AS (
               SELECT event_id,
                      CASE WHEN event_id % 3 = 0 THEN CAST(user_id AS VARCHAR)
                           WHEN event_id % 3 = 1 THEN event_type
                           ELSE concat('  ', CAST(user_id AS VARCHAR), ' ')
                      END AS raw
               FROM events)
             SELECT event_id, raw, TRY_CAST(raw AS BIGINT) AS parsed
             FROM raw ORDER BY event_id""")),

    // F3 — lenient FLOAT coercion (`main.py:116-120`).
    Spec("q_repair_try_double",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"),
          when(col("event_id") % 2 === 0, col("value").cast(StringType))
            .otherwise(col("event_type")).as("raw"))
        .select(col("event_id"),
          round(Repair.lenientDouble(col("raw")), 4).as("parsed"))
        .orderBy(col("event_id")),
      Some("""SELECT event_id,
                    round(TRY_CAST(CASE WHEN event_id % 2 = 0
                                        THEN CAST(value AS VARCHAR)
                                        ELSE event_type END AS DOUBLE), 4) AS parsed
             FROM events ORDER BY event_id""")),

    // F4 — multi-format timestamp normalization (`main.py:121-130`,
    // formats `:30-35`): render o_orderdate in each of the reference's
    // 4 wire formats by row, then parse back with the ordered coalesce
    // and re-emit the canonical `%Y-%m-%d %H:%M:%S` string.
    Spec("q_repair_ts_multiformat",
      (s, dir) => t(s, dir, "orders")
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 4 === 0,
              date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
            .when(col("o_orderkey") % 4 === 1,
              date_format(col("o_orderdate"), "yyyy-MM-dd"))
            .when(col("o_orderkey") % 4 === 2,
              date_format(col("o_orderdate"), "dd/MM/yyyy"))
            .otherwise(date_format(col("o_orderdate"), "yyyyMMdd"))
            .as("raw"))
        .select(col("o_orderkey"), col("raw"),
          Repair.canonicalTimestampString(col("raw")).as("canonical"))
        .orderBy(col("o_orderkey")),
      Some("""WITH raw AS (
               SELECT o_orderkey,
                      CASE o_orderkey % 4
                        WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                        WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                        WHEN 2 THEN strftime(o_orderdate, '%d/%m/%Y')
                        ELSE strftime(o_orderdate, '%Y%m%d')
                      END AS raw
               FROM orders)
             SELECT o_orderkey, raw,
                    strftime(coalesce(
                      try_strptime(raw, '%Y-%m-%d %H:%M:%S'),
                      try_strptime(raw, '%Y-%m-%d'),
                      try_strptime(raw, '%d/%m/%Y'),
                      try_strptime(raw, '%Y%m%d')), '%Y-%m-%d %H:%M:%S') AS canonical
             FROM raw ORDER BY o_orderkey""")),

    // T1 — slice templating (`main.py:26,45-47`, README.md:32) as a
    // row-level analog: destination name from a `{a:b}` slice of a
    // source-name column (`src0` → `tbl_0`). The driver-side scalar
    // expansion itself is unit-tested in NameTemplateSpec.
    Spec("q_template_slice",
      (s, dir) => t(s, dir, "documents")
        .select(col("source")).distinct()
        .select(col("source"),
          concat(lit("tbl_"), substring(col("source"), 4, 10)).as("dest"))
        .orderBy(col("source")),
      Some("""SELECT DISTINCT source,
                    concat('tbl_', substr(source, 4, 10)) AS dest
             FROM documents ORDER BY source""")))
}
