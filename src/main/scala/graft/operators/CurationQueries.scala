package graft.operators

import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity (SURVEY §2.9): JSONL ingest with an explicit
  * schema, weighted sampling, inverted-index keyword search, and the
  * Z-order clustering key for multi-dimensional write layout.
  *
  * Scale designs:
  *  - JSONL is THE interchange format for document corpora; the read
  *    passes an explicit `StructType` so no inference pass scans the
  *    data, and line-delimited JSON splits at any scale. The required
  *    schema is pushed into the parser — unreferenced fields are never
  *    materialized.
  *  - Weighted sampling uses the Efraimidis–Spirakis one-pass key
  *    (`ln(u)/w`, top-k by key): a map-side key per row plus ONE
  *    TakeOrdered — no global sort, no per-weight passes, and the
  *    md5-derived uniform makes the draw engine-replayable.
  *  - Keyword search materializes the posting index once (at 100 TB:
  *    `ScaleOps.writeBucketed` by term) and answers each conjunctive
  *    query by filtering the tiny per-term slices and intersecting on
  *    doc_id via aggregation — never a per-query full-text scan.
  *  - The Z-order row drives [[graft.plans.ZOrderKeyExpr]] through a
  *    real ordering so the bit interleave is oracle-checked; the
  *    write-side layout helper is [[ScaleOps.zorderSorted]].
  */
object CurationQueries {
  import Q._

  /** JSONL fixture (one doc per line; id 2 has no tags field, id 3 an
    * empty tags list and no lang) — written once per JVM, parsed by
    * Spark with the explicit schema and re-derived by the oracle from
    * the same raw lines via DuckDB's JSON functions. */
  private[operators] val JsonlLines = Seq(
    """{"id":0,"text":"spark joins data","meta":{"lang":"en","source":"web"},"tags":["a","b"]}""",
    """{"id":1,"text":"agg rows fast","meta":{"lang":"de","source":"books"},"tags":["x"]}""",
    """{"id":2,"text":"no tags here","meta":{"lang":"en","source":"web"}}""",
    """{"id":3,"text":"null lang","meta":{"source":"cc"},"tags":[]}""",
    """{"id":4,"text":"plain","meta":{"lang":"fr","source":"cc"},"tags":["a","b","c"]}""")

  private lazy val jsonlFixture: String = {
    val f = fixtureDir("graft_jsonl").resolve("docs.jsonl")
    java.nio.file.Files.write(f, JsonlLines.mkString("\n").getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    f.toString
  }

  private val JsonlSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, text STRING, meta STRUCT<lang: STRING, source: STRING>, " +
      "tags ARRAY<STRING>")

  /** Conjunctive keyword query answered through the inverted index. */
  private val SearchTerms = Seq("spark", "join")

  private val WeightedSampleK = 25

  /** The 62-term DuckDB replay of the Morton interleave: bit i of a →
    * z-bit 2i, bit i of b → z-bit 2i+1 (31 bits each, disjoint targets,
    * so `+` is `|`). Generated so the layout stays in lockstep with
    * [[graft.plans.ZOrderKeyExpr]]. */
  private def zorderOracleExpr(a: String, b: String): String =
    (0 until 31).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", " + ", ")")

  /** Hive-partitioned copy of `documents` (one directory per lang),
    * written once per (JVM, sf-dir): the fixture for the
    * partition-pruning gate row. */
  private val partitionedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def partitionedCopy(s: org.apache.spark.sql.SparkSession,
                              dir: String): String =
    partitionedDirs.computeIfAbsent(dir, _ => {
      val d = fixtureDir("graft_part").toString
      t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(d)
      d
    })

  /** Two-generation schema-evolution fixture: generation 1 lacks the
    * `quality` column a later pipeline stage added. Written once per
    * JVM; the mergeSchema read must union the schemas and null-fill. */
  private val evolvedDirMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def evolvedDir(s: org.apache.spark.sql.SparkSession): String =
    evolvedDirMemo.computeIfAbsent("dir", _ => {
    val d = fixtureDir("graft_evolve")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val gen1 = s.createDataFrame(
      java.util.Arrays.asList(Row(0L, "alpha"), Row(1L, "beta")),
      StructType.fromDDL("id BIGINT, name STRING"))
    val gen2 = s.createDataFrame(
      java.util.Arrays.asList(Row(2L, "gamma", 0.9), Row(3L, "delta", 0.2)),
      StructType.fromDDL("id BIGINT, name STRING, quality DOUBLE"))
    gen1.coalesce(1).write.parquet(s"$d/gen=1")
    gen2.coalesce(1).write.parquet(s"$d/gen=2")
    d.toString
  })

  /** Bucketed copies of (lineitem, orders) on the join key, written
    * once per (JVM, sf-dir) via [[ScaleOps.writeBucketed]] — the
    * co-located-join fixture. Table names carry a dir hash so battery
    * runs over different SFs coexist in one catalog. */
  private val bucketedFor =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def bucketedTables(s: org.apache.spark.sql.SparkSession,
                             dir: String): (String, String) =
    bucketedFor.computeIfAbsent(dir, _ => {
      val sfx = Integer.toHexString(dir.hashCode & 0x7fffffff)
      val (lt, ot) = (s"bk_lineitem_$sfx", s"bk_orders_$sfx")
      // explicit per-JVM temp location → external tables, immune to a
      // stale managed-table directory left in ./spark-warehouse by a
      // previous run (managed CREATE refuses non-empty locations)
      val base = fixtureDir("graft_bucketed")
      ScaleOps.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        lt, "l_orderkey", 8, path = s"$base/$lt")
      ScaleOps.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority")),
        ot, "o_orderkey", 8, path = s"$base/$ot")
      (lt, ot)
    })

  /** Hosts dropped by the q_url_canonical blocklist filter (map-side;
    * broadcast the set when it outgrows a literal). */
  val UrlBlocklist = Seq("src3.example.com", "src7.example.com")

  /** Crawl-style URL canonicalization as a pure codegen'd column
    * transform (no UDF): lowercase → strip fragment → strip "www." →
    * strip default :443/:80 ports → drop utm_* tracking params →
    * normalize "/?"→"?", dangling "?"/"&" and trailing slash → fold
    * http→https (canonical-URL dedup policy). Every step is a string
    * primitive both engines implement identically, so the whole chain
    * is DuckDB-replayable (see the q_url_canonical oracle). */
  def canonicalizeUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    var u = lower(url)
    u = regexp_replace(u, "#.*$", "")
    u = replace(u, lit("://www."), lit("://"))
    u = replace(replace(u, lit(":443/"), lit("/")), lit(":80/"), lit("/"))
    u = regexp_replace(u, "utm_[a-z]+=[^&]*&?", "")
    u = replace(u, lit("/?"), lit("?"))
    u = regexp_replace(u, "[?&]+$", "")
    u = regexp_replace(u, "/$", "")
    replace(u, lit("http://"), lit("https://"))
  }

  /** Host of a canonicalized URL (scheme already folded to https). */
  def urlHost(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_extract(u, "^https://([^/]+)", 1)

  /** BM25 (Robertson k1 = 1.2, b = 0.75) scores for [[SearchTerms]]:
    * ONE aggregation pass over the exploded corpus builds per-doc
    * length AND each term's tf as pivoted columns of the same groupBy,
    * so the three consumers (lengths, corpus stats, term frequencies)
    * hang off one reused exchange; the corpus stats fold into a 1-row
    * broadcast and the final score is a map-side expression. Summation
    * order across the ≤2 terms is fixed (term-list order) but
    * 2-addend FP addition is commutative, so the oracle's arbitrary
    * per-group order cannot diverge. Shared by `q_bm25` (full scored
    * list) and `q_rrf_fusion` (sparse leg of the hybrid fusion). */
  private def bm25Scores(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val k1 = 1.2
    val b = 0.75
    val docs = t(s, dir, "documents")
    val perDoc = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"),
        SearchTerms.map(tm =>
          sum(when(col("term") === tm, 1L).otherwise(0L)).as(s"tf_$tm")): _*)
    val statAggs = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("total_dl") +:
      SearchTerms.map(tm =>
        sum(when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).as(s"df_$tm"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    def termScore(tm: String) = {
      val tf = col(s"tf_$tm")
      val idf = log((col("n_docs") - col(s"df_$tm") + lit(0.5))
        / (col(s"df_$tm") + lit(0.5)) + lit(1.0))
      when(tf > 0, idf * (tf * (k1 + 1)) /
        (tf + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl)))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        floor(SearchTerms.map(termScore).reduce(_ + _) * 10000)
          .cast("long").as("score_e4"),
        SearchTerms.map(tm =>
          when(col(s"tf_$tm") > 0, 1L).otherwise(0L)).reduce(_ + _)
          .as("n_terms"))
      .filter(col("n_terms") > 0)
  }

  /** DuckDB replay of [[bm25Scores]] — a complete SELECT (no trailing
    * ORDER BY) so it drops into a WITH-clause as-is. */
  private val Bm25Sql: String =
    s"""WITH toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents),
      dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
      stats AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term IN (${SearchTerms.map("'" + _ + "'").mkString(", ")})
        GROUP BY doc_id, term),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      SELECT tf.doc_id,
             CAST(floor(sum(
               ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * (tf.tf * (1.2 + 1))
                 / (tf.tf + 1.2 * (1.0 - 0.75
                     + 0.75 * dl.dl / (CAST(s.total_dl AS DOUBLE) / s.n_docs)))
               ) * 10000) AS BIGINT) AS score_e4,
             count(*) AS n_terms
      FROM tf JOIN df USING (term) JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
      GROUP BY tf.doc_id"""

  val specs: Seq[Spec] = Seq(

    // The co-located join as a GATE row: both fact sides persisted
    // bucketed+sorted on the join key (paid once), after which the
    // equi-join AND the key-grouped aggregate run with ZERO
    // hash-partition exchanges — bucket-local sort-merge feeding a
    // partitioning-reusing aggregate (PlanAssertSpec pins the absence
    // of hashpartitioning). At 100 TB this is the difference between
    // re-shuffling the fact table on every daily join and never
    // shuffling it again. The oracle replays the same join from the
    // raw tables — bucketing must not change a single row.
    Spec("q_bucketed_join",
      (s, dir) => {
        val (lt, ot) = bucketedTables(s, dir)
        s.table(lt).filter(col("l_orderkey") < 2000)
          .join(s.table(ot).filter(col("o_orderkey") < 2000),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("qty"),
            count(lit(1)).as("n_lines"),
            max(col("o_orderpriority")).as("pri"))
          .orderBy(col("l_orderkey"))
      },
      Some("""SELECT l_orderkey, sum(l_quantity) AS qty,
                    count(*) AS n_lines, max(o_orderpriority) AS pri
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE l_orderkey < 2000 AND o_orderkey < 2000
             GROUP BY l_orderkey ORDER BY l_orderkey""")),

    // Storage-layout gate row: documents written Hive-partitioned by
    // lang, then read back with a lang predicate — the filter resolves
    // against DIRECTORIES (PartitionFilters in the scan), so the query
    // reads only the matching partition's files. At 100 TB,
    // partitioning on a low-cardinality routing column (lang, source,
    // date) is the first line of scan pruning, ahead of row-group
    // min/max. The oracle states the same predicate over the original
    // table; PlanAssertSpec pins the pruning to the scan node.
    Spec("q_partitioned_read",
      (s, dir) => s.read.parquet(partitionedCopy(s, dir))
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, lang, n_chars FROM documents
             WHERE lang = 'en' ORDER BY doc_id""")),

    // Schema-evolution gate row: a corpus whose later generation added
    // a column is read with mergeSchema — older files null-fill the new
    // column, the partition column (gen) comes from the path. This is
    // how a 100 TB corpus accretes columns WITHOUT rewriting history;
    // the alternative (casting every historical file) is a full-corpus
    // rewrite. The oracle re-derives the union from the same literal
    // generations.
    Spec("q_schema_merge",
      (s, _) => s.read.option("mergeSchema", "true").parquet(evolvedDir(s))
        .select(col("id"), col("name"), col("quality"),
          col("gen").cast("long").as("gen"))
        .orderBy(col("id")),
      Some("""WITH gen1(id, name) AS (VALUES (0, 'alpha'), (1, 'beta')),
             gen2(id, name, quality) AS (VALUES (2, 'gamma', 0.9), (3, 'delta', 0.2))
             SELECT CAST(id AS BIGINT) AS id, name,
                    CAST(NULL AS DOUBLE) AS quality, CAST(1 AS BIGINT) AS gen
             FROM gen1
             UNION ALL
             SELECT id, name, quality, 2 AS gen FROM gen2
             ORDER BY id""")),

    // X-family JSONL ingest: explicit-schema line-JSON read (no
    // inference scan), nested-struct field access, null-safe array
    // size. The oracle re-parses the SAME raw lines with DuckDB's JSON
    // functions — both engines derive the values from the bytes on
    // disk, nothing is hardcoded.
    Spec("q_jsonl_ingest",
      (s, _) => s.read.schema(JsonlSchema).json(jsonlFixture)
        .select(col("id"), col("text"),
          col("meta.lang").as("lang"), col("meta.source").as("source"),
          when(col("tags").isNull, lit(0L))
            .otherwise(size(col("tags")).cast("long")).as("n_tags"))
        .orderBy(col("id")),
      Some {
        val vals = JsonlLines.map(l => "('" + l.replace("'", "''") + "')")
          .mkString(", ")
        s"""WITH lines(raw) AS (VALUES $vals)
           SELECT CAST(json_extract(raw, '$$.id') AS BIGINT) AS id,
                  json_extract_string(raw, '$$.text') AS text,
                  json_extract_string(raw, '$$.meta.lang') AS lang,
                  json_extract_string(raw, '$$.meta.source') AS source,
                  CASE WHEN json_extract(raw, '$$.tags') IS NULL THEN 0
                       ELSE len(CAST(json_extract(raw, '$$.tags') AS JSON[]))
                  END AS n_tags
           FROM lines ORDER BY id"""
      }),

    // X-family weighted sampling (Efraimidis–Spirakis A-ES): draw
    // WeightedSampleK docs with probability proportional to n_chars,
    // WITHOUT replacement, in one pass — per-row key ln(u)/w with an
    // md5-derived uniform u ∈ (0,1], then top-k by key. orderBy+limit
    // plans as TakeOrdered (per-partition heaps + driver merge of k),
    // so no global sort and no full-data shuffle at any scale. The
    // md5-seeded u makes the identical draw replayable by any engine.
    Spec("q_sample_weighted",
      (s, dir) => {
        val m = conv(substring(md5(concat(lit("wsamp|"),
          col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
        val u = (m + lit(1L)).cast("double") / lit(1152921504606846976.0) // 2^60
        t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            (log(u) / col("n_chars")).as("__key"))
          .orderBy(col("__key").desc, col("doc_id"))
          .limit(WeightedSampleK)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH keyed AS (
                SELECT doc_id, n_chars,
                       ln((CAST(('0x' || substr(md5('wsamp|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                          / 1152921504606846976.0) / n_chars AS k
                FROM documents),
              topk AS (
                SELECT doc_id, n_chars FROM keyed
                ORDER BY k DESC, doc_id LIMIT $WeightedSampleK)
              SELECT doc_id, n_chars FROM topk ORDER BY doc_id""")),

    // X-family keyword search: conjunctive term query through an
    // inverted posting index — explode to (doc_id, term) postings,
    // filter to the query terms BEFORE the distinct (only matching
    // postings ever shuffle), and intersect the per-term posting lists
    // by counting distinct matched terms per doc. At 100 TB the index
    // is materialized once (writeBucketed by term) and each query
    // touches only its terms' slices; the final doc join broadcasts
    // the tiny hit set. The oracle states the same predicate
    // declaratively (token-set membership of both terms).
    Spec("q_keyword_search",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val hits = docs
          .select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("term"))
          .filter(col("term").isin(SearchTerms: _*))
          .distinct()
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("__n"))
          .filter(col("__n") === SearchTerms.size)
          .select(col("doc_id"))
        docs.join(broadcast(hits), Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""SELECT doc_id, source, n_chars FROM documents
              WHERE ${SearchTerms.map(t =>
                 s"list_contains(string_split(lower(text), ' '), '$t')")
                 .mkString(" AND ")}
              ORDER BY doc_id""")),

    // Data-quality validation gate (the Deequ/dbt-tests capability):
    // a declarative constraint list over the corpus — every row-level
    // predicate folds into ONE scan as a sum of indicators (a 50th
    // check adds a codegen'd column, not a pass over 100 TB), each
    // uniqueness check is exactly one hash aggregation, and the report
    // is itself a DataFrame. Two checks are deliberately failing so
    // both report directions are oracle-checked with REAL counts.
    Spec("q_expectations",
      (s, dir) => QualityChecks.validate(t(s, dir, "documents"), Seq(
        QualityChecks.RowCheck("doc_id_not_null", col("doc_id").isNotNull),
        QualityChecks.RowCheck("n_chars_min_100", col("n_chars") >= 100),
        QualityChecks.RowCheck("text_nonempty", length(col("text")) > 0),
        QualityChecks.UniqueCheck("doc_id_unique", Seq("doc_id")),
        QualityChecks.UniqueCheck("lang_source_unique", Seq("lang", "source")))),
      Some("""WITH rows_part AS (
               SELECT 'doc_id_not_null' AS "check",
                      sum(CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END) AS violations
               FROM documents
               UNION ALL
               SELECT 'n_chars_min_100',
                      sum(CASE WHEN n_chars >= 100 THEN 0 ELSE 1 END)
               FROM documents
               UNION ALL
               SELECT 'text_nonempty',
                      sum(CASE WHEN length(text) > 0 THEN 0 ELSE 1 END)
               FROM documents
               UNION ALL
               SELECT 'doc_id_unique',
                      count(*) - count(DISTINCT doc_id) FROM documents
               UNION ALL
               SELECT 'lang_source_unique',
                      count(*) - (SELECT count(*) FROM
                        (SELECT DISTINCT lang, source FROM documents))
               FROM documents)
             SELECT "check", CAST(violations AS BIGINT) AS violations,
                    violations = 0 AS passed
             FROM rows_part ORDER BY "check" """)),

    // X-family BM25 retrieval scoring (Robertson k1/b form) over the
    // same posting shapes as q_keyword_search: tf comes from postings
    // FILTERED to the query terms before any shuffle, df/N/avgdl are
    // three tiny broadcast scalars, and the final score is one map-side
    // expression per matching doc. Every input to the float math is an
    // exact integer aggregate, the constants are shared literals, and
    // the output is floor-rounded — the DuckDB oracle replays the
    // arithmetic exactly. At corpus scale this is the classic
    // sparse-retrieval scorer next to the ANN dense path (q_ann_*).
    Spec("q_bm25",
      (s, dir) => bm25Scores(s, dir).orderBy(col("doc_id")),
      Some(s"$Bm25Sql ORDER BY tf.doc_id")),

    // Reciprocal-rank fusion (k = 60, the published constant) — the
    // standard hybrid-retrieval combiner: take the sparse (BM25) and
    // dense (embedding-cosine) top-50 lists for the same query and
    // score each doc by Σ 1/(60 + rank), summing only the lists the
    // doc appears on. Both input lists arrive ALREADY BOUNDED (each
    // leg is an orderBy+limit → TakeOrdered, no global sort), so the
    // rank window runs over ≤50 rows by construction — at corpus
    // scale the lists come straight from the retrieval operators
    // (q_bm25 / q_ann_*) and fusion cost is O(k), independent of
    // corpus size. The fused score is floor-scaled from exactly two
    // addends (two-term FP addition is order-free), so the hash is
    // engine-stable. Spark logs "No Partition Defined for Window …
    // single partition" for the two rank windows below — expected and
    // harmless HERE because each input is already TakeOrdered to 50
    // rows; a production variant ranking per query_id would partition
    // the window by query_id and never see a global frame.
    Spec("q_rrf_fusion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val sw = Window.orderBy(col("score_e4").desc, col("doc_id"))
        val sparse = bm25Scores(s, dir)
          .orderBy(col("score_e4").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), row_number().over(sw).cast("long").as("r_s"))
        val e = t(s, dir, "embeddings")
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        val dw = Window.orderBy(col("cos").desc, col("doc_id"))
        val dense = e.crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            graft.functions.VectorFunctions.cosine(col("embedding"), col("qv"))
              .as("cos"))
          .orderBy(col("cos").desc, col("doc_id")).limit(50)
          .select(col("doc_id"), row_number().over(dw).cast("long").as("r_d"))
        sparse.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("r_s"), col("r_d"),
            floor((coalesce(lit(1.0) / (lit(60.0) + col("r_s")), lit(0.0)) +
                   coalesce(lit(1.0) / (lit(60.0) + col("r_d")), lit(0.0)))
              * 1000000).cast("long").as("rrf_e6"))
          .orderBy(col("rrf_e6").desc, col("doc_id")).limit(10)
      },
      Some(s"""WITH bm AS ($Bm25Sql),
              sparse AS (
                SELECT doc_id, r_s FROM (
                  SELECT doc_id, row_number() OVER (
                    ORDER BY score_e4 DESC, doc_id) AS r_s FROM bm) x
                WHERE r_s <= 50),
              e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
              qv AS (SELECT v AS q FROM e2 WHERE vec_id = 0),
              dns AS (SELECT vec_id AS doc_id,
                             list_dot_product(v, q)
                               / (sqrt(list_dot_product(v, v))
                                  * sqrt(list_dot_product(q, q))) AS cos
                      FROM e2 CROSS JOIN qv),
              dense AS (
                SELECT doc_id, r_d FROM (
                  SELECT doc_id, row_number() OVER (
                    ORDER BY cos DESC, doc_id) AS r_d FROM dns) y
                WHERE r_d <= 50)
              SELECT doc_id, r_s, r_d,
                     CAST(floor((coalesce(1.0 / (60 + r_s), 0)
                                 + coalesce(1.0 / (60 + r_d), 0)) * 1000000)
                       AS BIGINT) AS rrf_e6
              FROM sparse FULL OUTER JOIN dense USING (doc_id)
              ORDER BY rrf_e6 DESC, doc_id LIMIT 10""")),

    // X-family percentile-threshold filtering ("keep the top 30 % by
    // quality"): the exact quantile leg exists for the gate — both
    // engines interpolate quantile_cont identically over the same
    // integers — and broadcasts as a 1-row scalar against the corpus
    // (map-side filter, no second shuffle of the data). At 100 TB the
    // threshold comes from `approx_percentile` (one sketch pass,
    // mergeable) instead of the exact sort-based aggregate; the filter
    // side is unchanged.
    Spec("q_quality_threshold",
      (s, dir) => {
        val thr = t(s, dir, "documents")
          .agg(expr("percentile(n_chars, 0.7d)").as("__thr"))
        t(s, dir, "documents")
          .join(broadcast(thr))
          .filter(col("n_chars") >= col("__thr"))
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, n_chars FROM documents
             WHERE n_chars >= (SELECT quantile_cont(n_chars, 0.7)
                               FROM documents)
             ORDER BY doc_id""")),

    // X-family time-window event dedup (telemetry/webhook retry
    // suppression): an event is a duplicate if the SAME (user, type)
    // key fired within the last 5 minutes. One lag window per key —
    // hash-partitioned by user at any scale, state is one row — vs the
    // exact-digest streaming form (`dropDuplicatesWithinWatermark`)
    // this keeps the FIRST of a burst and suppresses the tail.
    Spec("q_event_dedup_window",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts_us"), col("event_id"))
        val ev = t(s, dir, "events")
        ev.select(col("event_id"), col("user_id"), col("event_type"),
            tsUs(ev).as("ts_us"))
          .withColumn("__prev", lag(col("ts_us"), 1).over(w))
          .filter(col("__prev").isNull ||
            col("ts_us") - col("__prev") > 300L * 1000000L)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .orderBy(col("event_id"))
      },
      Some("""WITH e AS (
               SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
               FROM events),
             l AS (
               SELECT event_id, user_id, event_type,
                      ts_us - lag(ts_us, 1) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts_us, event_id) AS gap
               FROM e)
             SELECT event_id, user_id, event_type FROM l
             WHERE gap IS NULL OR gap > 300 * 1000000
             ORDER BY event_id""")),

    // X-family per-domain capping (the CommonCrawl-style "at most k
    // documents per host" rule): extract the host with the same regex
    // on both engines, then keep the k best per domain by quality
    // through the native TopKPerKey operator — partial per-mapper heaps
    // mean at most k rows per (mapper, domain) ever shuffle, not the
    // domain's full document set (the hot-host problem at corpus
    // scale).
    Spec("q_domain_topk",
      (s, dir) => {
        val url = concat(lit("https://"), col("source"),
          lit(".example.com/doc/"), col("doc_id").cast("string"))
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            regexp_extract(url, "^https?://([^/]+)/", 1).as("domain"))
        ScaleOps.topKPerKey(docs,
            Seq(col("domain")),
            Seq(col("n_chars").desc, col("doc_id")), 4)
          .select(col("domain"), col("doc_id"), col("n_chars"))
          .orderBy(col("domain"), col("doc_id"))
      },
      Some("""WITH d AS (
               SELECT doc_id, n_chars,
                      regexp_extract(
                        'https://' || source || '.example.com/doc/'
                          || CAST(doc_id AS VARCHAR),
                        '^https?://([^/]+)/', 1) AS domain
               FROM documents),
             ranked AS (
               SELECT domain, doc_id, n_chars,
                      row_number() OVER (PARTITION BY domain
                        ORDER BY n_chars DESC, doc_id) AS rn
               FROM d)
             SELECT domain, doc_id, n_chars FROM ranked WHERE rn <= 4
             ORDER BY domain, doc_id""")),

    // Scale-utility gate row: the Morton (Z-order) clustering key over
    // (l_partkey, l_suppkey), ordered by z — the exact ordering a
    // zorderSorted write lays on disk, so the expression, its codegen
    // path, and the order it induces are all oracle-checked against a
    // 62-term bit-arithmetic replay.
    // X-family heavy hitters through a Count-Min sketch, fully
    // distributed: the sketch is a mergeable partial/final aggregate
    // (counters cross the wire, not tokens), the 1-row sketch relation
    // broadcasts, and per-candidate estimates come from the native
    // [[graft.plans.CmsEstimateExpr]] probe — no driver-side sketch
    // object. Gated like the HLL row: estimates are engine-private, so
    // the oracle checks the exact counts plus the sketch's hard bounds
    // (est ≥ exact always; est ≤ exact + ε·N with the fixed seed —
    // ε·N = 0.1 % of the token stream). At 100 TB the exact-count leg
    // is replaced by the sketch alone; it exists here to gate the
    // candidates and the bounds.
    Spec("q_heavy_hitters",
      (s, dir) => {
        val tokens = spread(s, t(s, dir, "documents"))
          .select(explode(split(lower(col("text")), " ")).as("term"))
          .filter(col("term") =!= "")
        val sketch = tokens.agg(
          expr("count_min_sketch(term, 0.001d, 0.99d, 7)").as("sk"),
          count(lit(1)).as("n_total"))
        val top = tokens.groupBy(col("term"))
          .agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("term"))
          .limit(20)
        val est = graft.plans.CmsEstimateExpr(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("sk")),
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("term")))
        top.join(broadcast(sketch))
          .select(col("term"), col("exact_n"),
            org.apache.spark.sql.graftbridge.ColumnBridge.column(est).as("__est"),
            col("n_total"))
          .select(col("term"), col("exact_n"),
            (col("__est") >= col("exact_n")).as("never_undercounts"),
            (col("__est") <= col("exact_n")
              + ceil(col("n_total") * lit(0.001)).cast("long"))
              .as("within_eps"))
          .orderBy(col("exact_n").desc, col("term"))
      },
      Some("""WITH toks AS (
               SELECT unnest(string_split(lower(text), ' ')) AS term
               FROM documents),
             top AS (
               SELECT term, count(*) AS exact_n FROM toks
               WHERE term <> '' GROUP BY term
               ORDER BY exact_n DESC, term LIMIT 20)
             SELECT term, exact_n,
                    true AS never_undercounts, true AS within_eps
             FROM top ORDER BY exact_n DESC, term""")),

    Spec("q_zorder_key",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          ScaleOps.zorderKey(col("l_partkey"), col("l_suppkey")).as("z"))
        .orderBy(col("z"), col("l_orderkey"), col("l_linenumber")),
      Some(s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
                     ${zorderOracleExpr("l_partkey", "l_suppkey")} AS z
              FROM lineitem WHERE l_orderkey < 300
              ORDER BY z, l_orderkey, l_linenumber""")),

    // Per-group feature normalization (z-score within language): the
    // standard preprocessing step before mixing quality signals across
    // languages whose raw distributions differ. One window over the
    // group key — hash-partitioned by lang at any scale, a single
    // shuffle; mean/stddev are computed once per partition pass, not
    // via a self-join. floor-scaling (not round) per the cross-engine
    // FP gotcha: both engines floor the same double.
    Spec("q_normalize_zscore",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("mu", avg(col("n_chars")).over(w))
          .withColumn("sigma", stddev_samp(col("n_chars")).over(w))
          // sigma = 0 (constant group) guard: Spark's non-ANSI Divide
          // returns NULL on /0 but DuckDB's IEEE float division returns
          // NaN/inf — a data-dependent oracle divergence. Both engines
          // now emit NULL for degenerate groups (single-row groups give
          // sigma NULL and agree already).
          .select(col("doc_id"), col("lang"),
            when(col("sigma") > 0,
              floor((col("n_chars") - col("mu")) / col("sigma") * 10000) / 10000)
              .as("z"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang,
                    CASE WHEN stddev_samp(n_chars) OVER (PARTITION BY lang) > 0
                         THEN floor((n_chars - avg(n_chars) OVER (PARTITION BY lang))
                              / stddev_samp(n_chars) OVER (PARTITION BY lang)
                              * 10000) / 10000
                    END AS z
             FROM documents ORDER BY doc_id""")),

    // Top-p (nucleus) truncation per group: keep each language's
    // longest documents until their cumulative share of the group's
    // total character mass reaches p — the mass-based counterpart of
    // the count-based q_domain_topk. A running-sum window ordered by
    // weight descending, then a filter on (cumulative − own) < p·total:
    // the first row past the threshold is KEPT (standard nucleus
    // semantics — the set is the smallest whose mass ≥ p). One shuffle
    // on the group key; the per-group total rides the same window with
    // an unbounded frame, so no extra aggregation-join pass.
    Spec("q_top_p_per_group",
      (s, dir) => {
        val byLang = org.apache.spark.sql.expressions.Window
          .partitionBy(col("lang"))
        val ordered = byLang.orderBy(col("n_chars").desc, col("doc_id"))
        t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .withColumn("cum", sum(col("n_chars")).over(ordered))
          .withColumn("total", sum(col("n_chars")).over(byLang))
          .filter((col("cum") - col("n_chars")).cast("double") <
            col("total") * lit(0.5))
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .orderBy(col("lang"), col("doc_id"))
      },
      Some("""WITH ranked AS (
               SELECT doc_id, lang, n_chars,
                      sum(n_chars) OVER (PARTITION BY lang
                        ORDER BY n_chars DESC, doc_id) AS cum,
                      sum(n_chars) OVER (PARTITION BY lang) AS total
               FROM documents)
             SELECT doc_id, lang, n_chars FROM ranked
             WHERE CAST(cum - n_chars AS DOUBLE) < total * 0.5
             ORDER BY lang, doc_id""")),

    // Per-group winsorization: clip a feature at its group's 5th/95th
    // percentile instead of dropping outlier rows — the standard
    // robust-statistics cleanup before averaging or z-scoring. The
    // tiny per-group percentile table (one partial+final aggregate)
    // broadcasts back; the clip itself is a map-side
    // least/greatest — no second shuffle of the data. At 100 TB the
    // bounds come from approx_percentile (mergeable sketch), same as
    // the q_quality_threshold scale note; the exact leg here is what
    // both engines can interpolate identically over integers.
    Spec("q_winsorize",
      (s, dir) => {
        val bounds = t(s, dir, "documents").groupBy(col("lang"))
          .agg(expr("percentile(n_chars, 0.05d)").as("lo"),
            expr("percentile(n_chars, 0.95d)").as("hi"))
        t(s, dir, "documents")
          .join(broadcast(bounds), "lang")
          .select(col("doc_id"), col("lang"),
            (floor(least(greatest(col("n_chars").cast("double"), col("lo")),
              col("hi")) * 100) / 100).as("clipped"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (
               SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
                      quantile_cont(n_chars, 0.95) AS hi
               FROM documents GROUP BY lang)
             SELECT doc_id, d.lang,
                    floor(least(greatest(CAST(n_chars AS DOUBLE), lo), hi)
                          * 100) / 100 AS clipped
             FROM documents d JOIN b ON d.lang = b.lang
             ORDER BY doc_id""")),

    // Domain-level wholesale quality filtering — crawl pipelines drop
    // entire LOW-QUALITY DOMAINS, not just individual documents (a
    // domain whose aggregate signal is spam poisons even its
    // better-looking pages). Per-host mean doc length in floor-scaled
    // integer ppm is the quality proxy (swap in any per-doc score);
    // hosts below the cutoff are dropped WHOLESALE and every doc rides
    // its host's verdict. 100 TB: the host-stats table is ∝ #domains
    // (millions of rows, KB–MB — broadcastable), built by ONE
    // partial+final aggregate keyed on host; the verdict joins back
    // map-side via broadcast, so corpus rows never shuffle. The
    // 290e6 ppm cutoff sits inside the sf0.01 distribution
    // (12/20 hosts keep → 300/500 docs).
    Spec("q_domain_quality_filter",
      (s, dir) => {
        val host = concat(col("source"), lit(".example.com"))
        val docs = spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), col("n_chars"), host.as("host"))
        val stats = docs.groupBy(col("host"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sc"))
          .select(col("host"), col("n_docs"),
            expr("sc * 1000000 div n_docs").as("host_mean_ppm"))
        docs.join(broadcast(stats), "host")
          .select(col("doc_id"), col("host"), col("host_mean_ppm"),
            (col("host_mean_ppm") >= 290000000L).as("kept"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH stats AS (
               SELECT source || '.example.com' AS host,
                      count(*) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) * 1000000 // count(*)
                        AS host_mean_ppm
               FROM documents GROUP BY 1)
             SELECT doc_id, host, host_mean_ppm,
                    host_mean_ppm >= 290000000 AS kept
             FROM documents d
             JOIN stats s ON d.source || '.example.com' = s.host
             ORDER BY doc_id""")),

    // URL canonicalization + domain blocklist + canonical-URL dedup —
    // the web-crawl curation front door (CommonCrawl-style pipelines
    // dedup fetches by canonical URL before any content pass). The
    // corpus carries no URL column, so a messy URL is SYNTHESIZED
    // deterministically per doc (three case/port/tracking-param/
    // fragment variants over the same logical target) and then pushed
    // through the canonicalizer both engines replay step for step:
    // lowercase → strip fragment → strip "www." → strip default ports
    // → drop utm_* tracking params → normalize "/?"→"?", dangling
    // separators and trailing slash → fold http→https (dedup policy).
    // Docs sharing a logical target collapse to ONE canonical row.
    // 100 TB: the chain is a map-only per-row projection (codegen'd
    // string ops, no UDF); the dedup is one groupBy on the canonical
    // string — at crawl scale group on md5(canonical) so the shuffle
    // ships 16 B keys; the blocklist is a map-side filter (broadcast
    // set when it outgrows a literal).
    Spec("q_url_canonical",
      (s, dir) => {
        val messy = when(col("doc_id") % 3 === 0,
            concat(lit("HTTPS://WWW."), col("source"),
              lit(".Example.COM:443/Doc/"),
              expr("CAST(doc_id div 7 AS STRING)"),
              lit("/?utm_source=feed&utm_medium=rss#top")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("http://"), col("source"), lit(".example.com:80/doc/"),
              expr("CAST(doc_id div 7 AS STRING)"), lit("?utm_campaign=x")))
          .otherwise(
            concat(lit("https://"), col("source"), lit(".example.com/doc/"),
              expr("CAST(doc_id div 7 AS STRING)"), lit("/?id="),
              expr("CAST(doc_id % 5 AS STRING)")))
        spread(s, t(s, dir, "documents"))
          .select(col("doc_id"), canonicalizeUrl(messy).as("u"))
          .filter(!urlHost(col("u")).isin(UrlBlocklist: _*))
          .groupBy(col("u").as("canonical_url"))
          .agg(min(col("doc_id")).as("keeper_doc_id"),
            count(lit(1)).as("n_variants"))
          .orderBy(col("canonical_url"))
      },
      Some("""WITH messy AS (
               SELECT doc_id,
                      lower(CASE
                        WHEN doc_id % 3 = 0 THEN
                          'HTTPS://WWW.' || source || '.Example.COM:443/Doc/'
                          || CAST(doc_id // 7 AS VARCHAR)
                          || '/?utm_source=feed&utm_medium=rss#top'
                        WHEN doc_id % 3 = 1 THEN
                          'http://' || source || '.example.com:80/doc/'
                          || CAST(doc_id // 7 AS VARCHAR) || '?utm_campaign=x'
                        ELSE
                          'https://' || source || '.example.com/doc/'
                          || CAST(doc_id // 7 AS VARCHAR) || '/?id='
                          || CAST(doc_id % 5 AS VARCHAR)
                      END) AS u
               FROM documents),
             canon AS (
               SELECT doc_id,
                      replace(
                        regexp_replace(
                          regexp_replace(
                            replace(
                              regexp_replace(
                                replace(replace(
                                  replace(
                                    regexp_replace(u, '#.*$', '', 'g'),
                                    '://www.', '://'),
                                  ':443/', '/'), ':80/', '/'),
                                'utm_[a-z]+=[^&]*&?', '', 'g'),
                              '/?', '?'),
                            '[?&]+$', '', 'g'),
                          '/$', '', 'g'),
                        'http://', 'https://') AS u
               FROM messy)
             SELECT u AS canonical_url,
                    min(doc_id) AS keeper_doc_id,
                    count(*) AS n_variants
             FROM canon
             WHERE regexp_extract(u, '^https://([^/]+)', 1)
                   NOT IN ('src3.example.com', 'src7.example.com')
             GROUP BY u ORDER BY u""")),

    // DSIR-style data selection (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): estimate importance
    // weights p_target/p_raw over HASHED token-bucket features — here
    // B = 64 md5 buckets, target = the English slice, raw = everything
    // else — and keep raw docs whose per-token log-ratio is ≥ 0 (more
    // target-like than raw-like). The hallmark of the method is that
    // both "LMs" are O(B) count tables REGARDLESS of corpus size:
    // at 100 TB the two bucket tables and the (T_t, T_r) normalizers
    // broadcast everywhere, the explode side is map-only, and the only
    // shuffle is the per-doc aggregate on doc_id (map-side combined).
    // Logs are taken on exact integer counts and summed per (doc,
    // bucket) with integer multiplicities; the 1e-6 floor keeps libm
    // ULP noise from ever flipping the cross-engine hash, and the
    // selected flag derives from the FLOORED value so both engines
    // bucket identically. Composes with the exact-k samplers
    // (`q_sample_k_per_group`) for the actual resampling draw.
    Spec("q_dsir_weights",
      (s, dir) => dsirWeights(spread(s, t(s, dir, "documents")),
        col("lang") === "en").orderBy(col("doc_id")),
      Some("""WITH tk AS (
                 SELECT doc_id, lang,
                        CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 64 AS b
                 FROM (SELECT doc_id, lang,
                              unnest(string_split(text, ' ')) AS tok
                       FROM documents)),
               tgt AS (SELECT b, COUNT(*) AS ct FROM tk
                       WHERE lang = 'en' GROUP BY b),
               raw AS (SELECT b, COUNT(*) AS cr FROM tk
                       WHERE lang <> 'en' GROUP BY b),
               lm AS (SELECT coalesce(t.b, r.b) AS b,
                             coalesce(ct, 0) AS ct, coalesce(cr, 0) AS cr
                      FROM tgt t FULL OUTER JOIN raw r ON t.b = r.b),
               scal AS (SELECT CAST(SUM(ct) AS BIGINT) AS Tt,
                               CAST(SUM(cr) AS BIGINT) AS Tr FROM lm),
               pdb AS (SELECT doc_id, b, COUNT(*) AS m FROM tk
                       WHERE lang <> 'en' GROUP BY doc_id, b),
               sc AS (
                 SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_toks,
                        SUM(CAST(m AS DOUBLE) *
                            ((ln(CAST(coalesce(lm.ct, 0) AS DOUBLE) + 1.0) -
                              ln(CAST(s.Tt AS DOUBLE) + 64.0)) -
                             (ln(CAST(coalesce(lm.cr, 0) AS DOUBLE) + 1.0) -
                              ln(CAST(s.Tr AS DOUBLE) + 64.0)))) AS lw
                 FROM pdb LEFT JOIN lm USING (b) CROSS JOIN scal s
                 GROUP BY doc_id),
               fin AS (
                 SELECT doc_id, n_toks,
                        floor(lw / CAST(n_toks AS DOUBLE) * 1000000) / 1000000
                          AS log_ratio_pt
                 FROM sc)
               SELECT doc_id, n_toks, log_ratio_pt,
                      log_ratio_pt >= 0 AS selected
               FROM fin ORDER BY doc_id""")))

  /** DSIR importance weights for the raw slice (rows where `isTarget`
    * is false) against the target slice's hashed-feature distribution;
    * see the `q_dsir_weights` spec comment for the design. */
  def dsirWeights(docs: org.apache.spark.sql.DataFrame,
                  isTarget: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    def bucket(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long") % 64
    val tk = docs.select(col("doc_id"), isTarget.as("tg"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("tg"), bucket(col("tok")).as("b"))
    val tgt = tk.where(col("tg"))
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val raw = tk.where(!col("tg"))
      .groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val lm = tgt.join(raw, Seq("b"), "full_outer")
      .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
    val scal = lm.agg(sum(col("ct")).as("Tt"), sum(col("cr")).as("Tr"))
    val perDocB = tk.where(!col("tg"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("m"))
    val scored = perDocB
      .join(broadcast(lm), Seq("b"), "left")
      .crossJoin(broadcast(scal))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_toks"),
        sum(col("m").cast("double") *
          ((log(coalesce(col("ct"), lit(0L)).cast("double") + 1.0d) -
            log(col("Tt").cast("double") + 64.0d)) -
           (log(coalesce(col("cr"), lit(0L)).cast("double") + 1.0d) -
            log(col("Tr").cast("double") + 64.0d)))).as("lw"))
    val lr = floor(col("lw") / col("n_toks").cast("double") * 1000000) /
      1000000
    scored.select(col("doc_id"), col("n_toks"),
      lr.as("log_ratio_pt"), (lr >= 0).as("selected"))
  }
}
