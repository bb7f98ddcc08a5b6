package graft

import graft.operators.Checkpoints.Checkpointed
import graft.model._
import graft.job.JobRunner
import graft.operators.{ErrorPolicy, IncrementalAgg, Maintenance, MappingOp, Profile, Quality, Upsert}
import graft.sinks.Writers
import graft.sources.Readers
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * ETL-parity queries: each exercises the real engine path
 * (JobConfig -> Readers -> MappingOp -> ErrorPolicy) on the test
 * tables, with a DuckDB oracle mirroring the semantics.
 * These cover SURVEY.md §2.1 S4/S7, §2.3 P1-P7, §2.4 F1-F2, §2.6 E1.
 */
object EtlQueries {

  /** The reference's sales job (jobconfigex.json) re-targeted at
    * `orders` — FIXTURES.md §2. Runs through the full config path. */
  private def salesConfig(dir: String) = JobConfig(
    jobId = "orders-to-csv-01",
    source = SourceConfig("PARQUET", ConnectionDetails(
      path = Some(s"$dir/orders.parquet"),
      filter = Some("o_orderstatus = 'F' AND o_totalprice >= 1000.0"))),
    mappings = List(
      FieldMapping("o_orderkey", "OrderID", "NUMBER", "LONG", isDestNullable = false),
      FieldMapping("o_custkey", "CustomerID", "NUMBER", "INTEGER", isDestNullable = false),
      FieldMapping("o_orderstatus", "Status", "VARCHAR2", "STRING"),
      FieldMapping("o_totalprice", "Total", "NUMBER", "DECIMAL(18,2)"),
      FieldMapping("o_orderdate", "OrderDate", "DATE", "TIMESTAMP", isDestNullable = false)
    ),
    errorHandling = ErrorHandling("LOG_ONLY")
  )

  /** Orders partitioned by o_orderpriority, cached per corpus
    * fingerprint. Shared by the `etl_partition_pruning` gate row and
    * PlanSpec's partition-filter / dynamic-pruning assertions. */
  private[graft] def partitionedOrdersFixture(s: org.apache.spark.sql.SparkSession,
                                              dir: String): String = {
    val fp = Tables.fingerprint(s, s"$dir/orders.parquet")
    graft.sinks.Commit.publishIfAbsent(s, s"${CacheDirs.root}/fix_part_orders_$fp") { tmp =>
      Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"), col("o_orderpriority"))
        .write.partitionBy("o_orderpriority").parquet(tmp)
    }
  }

  /** Run `body` against a local ephemeral-port HTTP server exposing
    * `handler` at `path`, stopping the server whatever happens — ONE
    * lifecycle implementation for the live-HTTP gate rows (a leak of
    * the bound socket on a start failure, or a forgotten stop, would
    * hang sbt: the JDK server's dispatcher thread is non-daemon). */
  private def withLocalHttpServer[A](path: String,
                                     handler: com.sun.net.httpserver.HttpExchange => Unit)
                                    (body: Int => A): A = {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    try {
      server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => handler(ex))
      server.start()
      body(server.getAddress.getPort)
    } finally server.stop(0)
  }

  val all: Seq[Q] = Seq(
    Q("load_sales",
      (s, dir) => {
        val cfg = salesConfig(dir)
        // observed variant: no eager count action during query build
        val good = ErrorPolicy.enforceObserved(
          JobRunner.buildDataFrame(s, cfg), cfg.mappings, cfg.errorHandling).good
        // The DECIMAL(18,2) cast is the semantics under test (P3); the
        // final DOUBLE cast is oracle-output convention only — the gate's
        // hasher can't compare decimal128 across engines.
        good.withColumn("Total", col("Total").cast("double")).orderBy("OrderID")
      },
      Some("""SELECT o_orderkey AS OrderID, CAST(o_custkey AS INTEGER) AS CustomerID,
             |o_orderstatus AS Status,
             |CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS Total,
             |o_orderdate AS OrderDate FROM orders
             |WHERE o_orderstatus = 'F' AND o_totalprice >= 1000.0
             |ORDER BY OrderID""".stripMargin)),

    Q("etl_cast_matrix",
      (s, dir) => {
        val mappings = List(
          FieldMapping("l_orderkey", "OrderKey", "NUMBER", "LONG"),
          FieldMapping("l_linenumber", "LineNo", "INTEGER", "SMALLINT"),
          FieldMapping("l_quantity", "Qty", "NUMBER", "DECIMAL(18,2)"),
          FieldMapping("l_extendedprice", "Price", "NUMBER", "DOUBLE"),
          FieldMapping("l_shipdate", "ShipDate", "DATE", "DATE"),
          FieldMapping("l_shipdate", "ShipTs", "DATE", "TIMESTAMP"),
          FieldMapping("l_returnflag", "Returned", "VARCHAR2", "BOOLEAN"),
          FieldMapping("l_linestatus", "StatusLower", "VARCHAR2", "STRING",
            transformationRule = Some("LOWERCASE"))
        )
        // DECIMAL(18,2) cast exercised through MappingOp; final DOUBLE cast
        // is oracle-output convention (decimal128 defeats the gate hasher).
        MappingOp(Tables.t(s, dir, "lineitem"), mappings)
          .withColumn("Qty", col("Qty").cast("double"))
          .orderBy("OrderKey", "LineNo")
      },
      Some("""SELECT l_orderkey AS OrderKey, CAST(l_linenumber AS SMALLINT) AS LineNo,
             |CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS Qty,
             |CAST(l_extendedprice AS DOUBLE) AS Price,
             |CAST(l_shipdate AS DATE) AS ShipDate,
             |l_shipdate AS ShipTs,
             |CASE WHEN lower(trim(l_returnflag)) IN ('true','1','y','yes','t') THEN TRUE
             |     WHEN lower(trim(l_returnflag)) IN ('false','0','n','no','f') THEN FALSE
             |     ELSE NULL END AS Returned,
             |lower(l_linestatus) AS StatusLower
             |FROM lineitem ORDER BY OrderKey, LineNo""".stripMargin)),

    Q("etl_null_policy",
      (s, dir) => {
        // LOG_ONLY strategy: rows whose non-nullable column went null
        // are dropped and counted (E1). Nulls injected via NULLIF.
        val src = Tables.t(s, dir, "orders")
          .withColumn("o_orderpriority", expr("nullif(o_orderpriority, '1-URGENT')"))
        val mappings = List(
          FieldMapping("o_orderkey", "id", "NUMBER", "LONG"),
          FieldMapping("o_orderpriority", "prio", "VARCHAR2", "STRING", isDestNullable = false))
        val good = ErrorPolicy.enforceObserved(
          MappingOp(src, mappings), mappings, ErrorHandling("LOG_ONLY")).good
        good.orderBy("id")
      },
      Some("""SELECT o_orderkey AS id, o_orderpriority AS prio FROM orders
             |WHERE NULLIF(o_orderpriority, '1-URGENT') IS NOT NULL
             |ORDER BY id""".stripMargin)),

    // ---- CSV source on the gate path (S5/S6): the parquet customer
    //      table round-trips through the engine's own CSV writer, then
    //      loads back through Readers -> MappingOp (string-typed scan,
    //      casts in the mapping stage). The oracle reads the ORIGINAL
    //      parquet — green means the whole CSV write+read+cast path is
    //      value-preserving. ----
    Q("etl_csv_source",
      (s, dir) => {
        val fix = s"${CacheDirs.root}/fix_csv_${java.lang.Integer.toHexString(dir.hashCode)}"
        Writers.write(
          Tables.t(s, dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"),
          DestinationConfig("CSV", ConnectionDetails(path = Some(fix))))
        val mappings = List(
          FieldMapping("c_custkey", "id", "NUMBER", "LONG", isDestNullable = false),
          FieldMapping("c_name", "name", "VARCHAR2", "STRING"),
          FieldMapping("c_acctbal", "balance", "NUMBER", "DOUBLE"),
          FieldMapping("c_mktsegment", "segment", "VARCHAR2", "STRING"))
        val cfg = SourceConfig("CSV",
          ConnectionDetails(path = Some(fix), includeHeader = Some(true)))
        MappingOp(Readers.forConfig(s, cfg, mappings), mappings).orderBy("id")
      },
      Some("""SELECT c_custkey AS id, c_name AS name,
             |CAST(c_acctbal AS DOUBLE) AS balance, c_mktsegment AS segment
             |FROM customer ORDER BY id""".stripMargin)),

    // ---- JSON source on the gate path (S8): supplier round-trips
    //      through ND-JSON, then loads back with a DECLARED all-string
    //      schema (no inference pass — unaffordable at 100 TB) and
    //      casts in the mapping stage. ----
    Q("etl_json_source",
      (s, dir) => {
        val fix = s"${CacheDirs.root}/fix_json_${java.lang.Integer.toHexString(dir.hashCode)}"
        Tables.t(s, dir, "supplier")
          .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
          .write.mode("overwrite").json(fix)
        val mappings = List(
          FieldMapping("s_suppkey", "supp_id", "NUMBER", "LONG", isDestNullable = false),
          FieldMapping("s_name", "supp_name", "VARCHAR2", "STRING"),
          FieldMapping("s_nationkey", "nation_key", "NUMBER", "INTEGER"),
          FieldMapping("s_acctbal", "balance", "NUMBER", "DOUBLE"))
        val cfg = SourceConfig("JSON", ConnectionDetails(path = Some(fix)))
        MappingOp(Readers.forConfig(s, cfg, mappings), mappings).orderBy("supp_id")
      },
      Some("""SELECT s_suppkey AS supp_id, s_name AS supp_name,
             |CAST(s_nationkey AS INTEGER) AS nation_key,
             |CAST(s_acctbal AS DOUBLE) AS balance
             |FROM supplier ORDER BY supp_id""".stripMargin)),

    // ---- the REST DSv2 source LIVE on the hard gate (S8): a local
    //      HTTP server serves the nation dimension as 5 ND-JSON
    //      pages; the DSv2 source fetches ONE PAGE PER PARTITION
    //      (task-side transport, declared all-string schema,
    //      source-level pruning — no inference pass over a remote
    //      API), the result commits to parquet (distributed write, no
    //      driver materialization of the FEED), the server stops, and
    //      the committed files are the query result. Nation is a
    //      FIXED 25-row dimension at every SF, so staging it through
    //      the driver is metadata-sized by construction (same
    //      justification as the IVF centroid collect). ----
    Q("etl_rest_source",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_rest_gate_")
        val rows = Tables.t(s, dir, "nation")
          .select(col("n_nationkey").cast("long"), col("n_name"),
            col("n_regionkey").cast("long"))
          .orderBy("n_nationkey").collect()
        def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
        val pages = rows.grouped(5).zipWithIndex.map { case (g, i) =>
          (i + 1).toString -> g.map(r =>
            s"""{"n_nationkey":"${r.getLong(0)}","n_name":"${esc(r.getString(1))}","n_regionkey":"${r.getLong(2)}"}""")
            .mkString("\n")
        }.toMap
        withLocalHttpServer("/feed", ex => {
          val page = Option(ex.getRequestURI.getQuery)
            .map(_.stripPrefix("page=")).getOrElse("")
          val body = pages.getOrElse(page, "").getBytes("UTF-8")
          ex.sendResponseHeaders(200, if (body.isEmpty) -1 else body.length.toLong)
          if (body.nonEmpty) ex.getResponseBody.write(body)
          ex.close()
        }) { port =>
          // the feed commits to parquet INSIDE the server's lifetime;
          // nothing reads it lazily after stop
          s.read.format("graft.sources.RestDataSource")
            .option("url", s"http://127.0.0.1:$port/feed?page={page}")
            .option("pages", "5")
            .option("fields", "n_nationkey,n_name,n_regionkey")
            .load()
            .write.parquet(s"$work/out")
        }
        s.read.parquet(s"$work/out")
          .select(col("n_nationkey").cast("long").as("nation_id"),
            col("n_name").as("name"), col("n_regionkey").cast("long").as("region_id"))
          .orderBy("nation_id")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nation_id, n_name AS name,
             |CAST(n_regionkey AS BIGINT) AS region_id
             |FROM nation ORDER BY nation_id""".stripMargin)),

    // ---- the REST SINK live on the hard gate (W4): nation rows POST
    //      as ND-JSON batches from inside each partition through the
    //      DEFAULT HTTP transport (real connections, batchSize=7 so
    //      batching actually engages) to a local server accumulating
    //      the received lines; what the remote side actually received
    //      parses back and must equal the dimension — wire format,
    //      partition-parallel POST path, and batching all
    //      round-tripped. Nation is fixed 25 rows at every SF, so the
    //      server-side accumulation is metadata-sized. ----
    Q("etl_rest_sink",
      (s, dir) => {
        val received = java.util.Collections.synchronizedList(
          new java.util.ArrayList[String]())
        withLocalHttpServer("/ingest", ex => {
          val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
          body.linesIterator.filter(_.nonEmpty).foreach(received.add)
          ex.sendResponseHeaders(204, -1)
          ex.close()
        }) { port =>
          // rest() is eager — the feed is fully received before stop
          Writers.rest(
            Tables.t(s, dir, "nation").select(col("n_nationkey"), col("n_name")),
            DestinationConfig("REST", ConnectionDetails(
                path = Some(s"http://127.0.0.1:$port/ingest")),
              batchSize = 7))
        }
        import scala.jdk.CollectionConverters._
        import s.implicits._
        s.read.json(s.createDataset(received.asScala.toSeq))
          .select(col("n_nationkey").cast("long").as("nation_id"),
            col("n_name").as("name"))
          .orderBy("nation_id")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nation_id, n_name AS name
             |FROM nation ORDER BY nation_id""".stripMargin)),

    // ---- incremental aggregate maintenance: the materialized summary
    //      refreshed by MERGING the delta's summary (mergeable
    //      count/DECIMAL-sum/min/max algebra) — the oracle aggregates
    //      the full table directly, proving merge == recompute. ----
    Q("etl_incremental_agg",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val base = o.filter(col("o_orderkey") % 10 =!= 0)   // "yesterday's" summary input
        val delta = o.filter(col("o_orderkey") % 10 === 0)  // today's append
        IncrementalAgg.merge(
            IncrementalAgg.summarize(base, Seq("o_orderstatus"), col("o_totalprice")),
            IncrementalAgg.summarize(delta, Seq("o_orderstatus"), col("o_totalprice")),
            Seq("o_orderstatus"))
          .select(col("o_orderstatus"), col("agg_cnt").as("n_orders"),
            col("agg_sum").cast("double").as("total_price"),
            col("agg_min").as("min_price"), col("agg_max").as("max_price"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
             |MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- incremental DISTINCT maintenance: COUNT(DISTINCT) does not
    //      merge, but the Datasketches HLL sketch does (bucket-max is
    //      associative) — the materialized sketch refreshes at
    //      |delta| + |summary| cost while exact recount rescans
    //      history. The row ships the exact count plus a within-5%
    //      verdict on the merged-sketch estimate (~6 sigma at lgK=14's
    //      0.81% rsd — robust to corpus regeneration, still far below
    //      any real drift); the oracle expects literal TRUE. ----
    Q("etl_incremental_distinct",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val base = o.filter(col("o_orderkey") % 10 =!= 0)
        val delta = o.filter(col("o_orderkey") % 10 === 0)
        val merged = IncrementalAgg.mergeDistinct(
          IncrementalAgg.summarizeDistinct(base, Seq("o_orderstatus"), col("o_custkey")),
          IncrementalAgg.summarizeDistinct(delta, Seq("o_orderstatus"), col("o_custkey")),
          Seq("o_orderstatus"))
        val est = IncrementalAgg.estimateDistinct(merged)
          .select(col("o_orderstatus"), col("distinct_estimate"))
        o.groupBy("o_orderstatus").agg(countDistinct(col("o_custkey")).as("n_cust"))
          .join(est, "o_orderstatus")
          .select(col("o_orderstatus"), col("n_cust"),
            (abs(col("distinct_estimate") - col("n_cust")) <=
              greatest(col("n_cust") * 0.05, lit(1.0))).as("estimate_within_5pct"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_cust,
             |TRUE AS estimate_within_5pct
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- incremental JOIN-view maintenance: the materialized
    //      orders⋈customer view refreshed from BOTH sides' append
    //      deltas via join-over-union distributivity —
    //      V ∪ ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — so neither history is ever
    //      re-joined. The oracle joins the full tables directly,
    //      proving delta maintenance == recompute. ----
    Q("etl_incremental_join",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        val c = Tables.t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        val (aOld, dA) = (o.filter(col("o_orderkey") % 10 =!= 0),
                          o.filter(col("o_orderkey") % 10 === 0))
        val (bOld, dB) = (c.filter(col("o_custkey") % 20 =!= 0),
                          c.filter(col("o_custkey") % 20 === 0))
        IncrementalAgg.deltaJoin(aOld.join(bOld, Seq("o_custkey")),
            aOld, dA, bOld, dB, Seq("o_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nation"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
          .orderBy("nation")
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nation, COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- late-arriving dimension (inferred member): facts that land
    //      before their dimension row keep a -1 placeholder and are
    //      re-resolved as later dimension slices arrive — never
    //      dropped, never blocking the load. Keys withheld from every
    //      slice (c_custkey % 100 = 3) stay placeholder, so the gate
    //      exercises BOTH the backfill and the persistent-unknown
    //      path; the oracle is one left join against the union of all
    //      arrived slices. ----
    Q("etl_late_arriving_dim",
      (s, dir) => {
        val cust = Tables.t(s, dir, "customer")
        def slice(cond: Column) = cust.filter(cond && col("c_custkey") % 100 =!= 3)
          .select(col("c_custkey").as("o_custkey"), col("c_nationkey").as("nation"))
        val early = slice(col("c_custkey") % 20 =!= 0)
        val late = slice(col("c_custkey") % 20 === 0)
        val phase1 = Tables.t(s, dir, "orders")
          .select(col("o_custkey"), col("o_totalprice"))
          .join(early, Seq("o_custkey"), "left")
          .withColumn("nation", coalesce(col("nation"), lit(-1)))
        Upsert.lateArrivingResolve(phase1, late, "o_custkey", "nation", lit(-1))
          .groupBy(col("nation").cast("long").as("nation"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
          .orderBy("nation")
      },
      Some("""SELECT CAST(COALESCE(c_nationkey, -1) AS BIGINT) AS nation,
             |COUNT(*) AS n_orders,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
             |FROM orders LEFT JOIN customer
             |  ON o_custkey = c_custkey AND c_custkey % 100 <> 3
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- bitemporal as-known-at read: order versions carry BOTH a
    //      valid time (the order month) and a transaction time
    //      (recorded_at — corrections for o_orderkey % 7 = 0 book 30
    //      days late at +100). "The monthly revenue as known on
    //      1997-01-01" picks each key's max-recorded version with
    //      recorded_at <= K via one conditional struct-argmax —
    //      reproducible reporting across restatements, the audit
    //      shape plain time travel (snapshot granularity) can't
    //      answer. Corrections recorded after K are invisible at K
    //      but present in the as-of-now column. ----
    Q("etl_bitemporal_asof",
      (s, dir) => {
        val k = lit("1997-01-01 00:00:00").cast("timestamp")
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice").as("price"), col("o_orderdate").as("recorded_at"))
        val fixes = base.filter(col("o_orderkey") % 7 === 0)
          .withColumn("price", col("price") + 100.0)
          .withColumn("recorded_at", col("recorded_at") + expr("INTERVAL 30 DAYS"))
        base.unionByName(fixes)
          .groupBy("o_orderkey")
          .agg(
            first(date_trunc("MONTH", col("o_orderdate")).cast("date"), ignoreNulls = true).as("month"),
            max(when(col("recorded_at") <= k,
              struct(col("recorded_at"), col("price")))).getField("price").as("price_at_k"),
            max(struct(col("recorded_at"), col("price"))).getField("price").as("price_now"))
          .groupBy("month")
          .agg(count(col("price_at_k")).as("n_at_k"),
            coalesce(sum(col("price_at_k").cast("decimal(18,2)")), lit(0).cast("decimal(20,2)"))
              .cast("double").as("sum_at_k"),
            count(lit(1)).as("n_now"),
            sum(col("price_now").cast("decimal(18,2)")).cast("double").as("sum_now"))
          .orderBy("month")
      },
      Some("""WITH v AS (
             |  SELECT o_orderkey, o_orderdate, o_totalprice AS price,
             |         o_orderdate AS recorded_at FROM orders
             |  UNION ALL
             |  SELECT o_orderkey, o_orderdate, o_totalprice + 100.0,
             |         o_orderdate + INTERVAL 30 DAY FROM orders WHERE o_orderkey % 7 = 0
             |),
             |per_key AS (
             |  SELECT o_orderkey,
             |    CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS month,
             |    arg_max(price, recorded_at)
             |      FILTER (WHERE recorded_at <= TIMESTAMP '1997-01-01') AS price_at_k,
             |    arg_max(price, recorded_at) AS price_now
             |  FROM v GROUP BY 1
             |)
             |SELECT month, COUNT(price_at_k) AS n_at_k,
             |  CAST(COALESCE(SUM(CAST(price_at_k AS DECIMAL(18,2))), 0) AS DOUBLE) AS sum_at_k,
             |  COUNT(*) AS n_now,
             |  CAST(SUM(CAST(price_now AS DECIMAL(18,2))) AS DOUBLE) AS sum_now
             |FROM per_key GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- declarative data-quality gate (VALIDATE_SOURCE grown up;
    //      Deequ-style): every rule compiles into ONE aggregation
    //      pass; metrics are exact-integer-count ratios, so the
    //      oracle recomputes them bit-identically. ----
    Q("etl_quality_rules",
      (s, dir) => Quality.check(Tables.t(s, dir, "customer"), Seq(
          Quality.NotNull("c_name"),
          Quality.Unique("c_custkey"),
          Quality.InRange("c_acctbal", 0.0, 10000.0, minFrac = 0.5),
          Quality.MatchesRegex("c_mktsegment", "^[A-Z]+$"),
          Quality.RowCountBetween(1L, 10000000L)))
        .orderBy("rule", "col_name"),
      Some("""WITH m AS (SELECT COUNT(*) AS n, COUNT(c_name) AS nn_name,
             |  COUNT(DISTINCT c_custkey) AS nd_key, COUNT(c_custkey) AS nn_key,
             |  COUNT(CASE WHEN c_acctbal BETWEEN 0.0 AND 10000.0 THEN 1 END) AS ok_bal,
             |  COUNT(c_acctbal) AS nn_bal,
             |  COUNT(CASE WHEN regexp_matches(c_mktsegment, '^[A-Z]+$') THEN 1 END) AS ok_seg,
             |  COUNT(c_mktsegment) AS nn_seg FROM customer)
             |SELECT * FROM (
             |  SELECT 'in_range' AS rule, 'c_acctbal' AS col_name,
             |    ok_bal / nn_bal AS metric, CAST(0.5 AS DOUBLE) AS threshold,
             |    ok_bal / nn_bal >= 0.5 AS passed FROM m
             |  UNION ALL SELECT 'not_null', 'c_name',
             |    (n - nn_name) / n, CAST(0.0 AS DOUBLE), (n - nn_name) / n <= 0.0 FROM m
             |  UNION ALL SELECT 'regex', 'c_mktsegment',
             |    ok_seg / nn_seg, CAST(1.0 AS DOUBLE), ok_seg / nn_seg >= 1.0 FROM m
             |  UNION ALL SELECT 'row_count', '*',
             |    CAST(n AS DOUBLE), CAST(10000000.0 AS DOUBLE), n BETWEEN 1 AND 10000000 FROM m
             |  UNION ALL SELECT 'unique', 'c_custkey',
             |    nd_key / nn_key, CAST(1.0 AS DOUBLE), nd_key = nn_key FROM m
             |) ORDER BY rule, col_name""".stripMargin)),

    // ---- fuzzy dimension lookup (edit distance): dirty reference
    //      names — three customer names each with one char dropped —
    //      matched back against the dimension by levenshtein <= 2.
    //      The dirty-data join every config-driven loader eventually
    //      needs (misspelled keys from hand-entered feeds). Scale
    //      shape: the probe list is reference-data-sized and
    //      BROADCAST; the dimension is scanned once map-side — never
    //      an all-pairs product between data-scaled sides. ----
    Q("etl_fuzzy_match",
      (s, dir) => {
        val cust = Tables.t(s, dir, "customer")
        val probes = cust.filter(col("c_custkey").isin(1L, 7L, 13L))
          .select(concat(substring(col("c_name"), 1, 2),
            expr("substring(c_name, 4)")).as("probe"))
        cust.crossJoin(broadcast(probes))
          .filter(levenshtein(col("c_name"), col("probe")) <= 2)
          .select(col("probe"), col("c_custkey"), col("c_name"),
            levenshtein(col("c_name"), col("probe")).as("dist"))
          .orderBy("probe", "c_custkey")
      },
      Some("""WITH probes AS (SELECT substr(c_name, 1, 2) || substr(c_name, 4) AS probe
             |  FROM customer WHERE c_custkey IN (1, 7, 13))
             |SELECT probe, c_custkey, c_name,
             |  CAST(levenshtein(c_name, probe) AS INTEGER) AS dist
             |FROM customer, probes
             |WHERE levenshtein(c_name, probe) <= 2
             |ORDER BY probe, c_custkey""".stripMargin)),

    // ---- FEED-VOLUME ANOMALY MONITOR: per-day row counts vs the
    //      trailing-7-day rank-exact median, flagged when the
    //      deviation exceeds 30% by integer cross-multiplication
    //      (|n − med|·10 > 3·med) — the day-over-day "did the feed
    //      break" alarm that runs BEFORE any content validation. The
    //      day spine is built from the span so a ZERO-row day (the
    //      worst anomaly) still surfaces. Follows the daily-ma7
    //      idiom: the trailing frame is a broadcast band self-join on
    //      the CALENDAR-bounded day axis — facts collapse in one
    //      combinable count first, and no single-partition window
    //      sort ever happens; the median is the 4th-of-7 sorted
    //      element, rank-defined, no interpolation. ----
    Q("etl_volume_anomaly",
      (s, dir) => {
        val ev = Tables.t(s, dir, "events")
        val span = ev.agg(min(col("ts")).cast("date").as("lo"),
          max(col("ts")).cast("date").as("hi"))
        val days = span.select(explode(
          expr("sequence(lo, hi, interval 1 day)")).as("day"))
        val per = ev.groupBy(col("ts").cast("date").as("day"))
          .agg(count(lit(1)).as("n"))
        val f = days.join(per, Seq("day"), "left_outer")
          .select(col("day"), expr("datediff(day, DATE '1970-01-01')").as("di"),
            coalesce(col("n"), lit(0L)).as("n"))
        val f2 = f.select(col("di").as("di2"), col("n").as("n2"))
        f.join(broadcast(f2),
            col("di2") >= col("di") - 7 && col("di2") <= col("di") - 1)
          .groupBy("day", "n")
          .agg(sort_array(collect_list(col("n2"))).as("w"))
          .filter(size(col("w")) === 7)
          .select(col("day"), col("n"),
            element_at(col("w"), 4).as("med7"))
          .withColumn("anomaly", abs(col("n") - col("med7")) * 10 > col("med7") * 3)
          .orderBy("day")
      },
      Some("""WITH span AS (SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi FROM events),
             |days AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
             |           CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
             |per AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n FROM events GROUP BY 1),
             |f AS (SELECT d.day, datediff('day', DATE '1970-01-01', d.day) AS di,
             |             CAST(COALESCE(per.n, 0) AS BIGINT) AS n
             |      FROM days d LEFT JOIN per ON per.day = d.day),
             |b AS (SELECT f.day, f.n, list_sort(list(f2.n)) AS w
             |      FROM f JOIN f AS f2 ON f2.di BETWEEN f.di - 7 AND f.di - 1
             |      GROUP BY 1, 2)
             |SELECT day, n, w[4] AS med7,
             |  abs(n - w[4]) * 10 > w[4] * 3 AS anomaly
             |FROM b WHERE len(w) = 7 ORDER BY day""".stripMargin)),

    // ---- probabilistic record linkage (Fellegi–Sunter shape, exact
    //      integer weights): dirty probe records — a digit dropped
    //      from the name, account balance drifted 0.25 — matched back
    //      against the dimension by SUMMED field-agreement evidence
    //      (name exact 40 / lev<=1 25 / lev<=2 10; +10 segment; +20
    //      balance within 0.5), winner per probe by (score, min key),
    //      threshold 45. TPC-H-style names are deliberately adversarial
    //      (every neighbor is lev<=2 from many keys), so single-field
    //      fuzzy match is ambiguous and the MULTI-field score is what
    //      disambiguates — the actual point of linkage over fuzzy
    //      join. Scale shape: candidates come from an EQUI-join on
    //      the blocking key (nation), never a cross product; scoring
    //      is map-side; the winner is a per-probe window (probe-
    //      cardinality partitions). ----
    Q("etl_record_linkage",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cust = Tables.t(s, dir, "customer")
        val probes = cust.filter(col("c_custkey") % 50 === 7)
          .select(col("c_custkey").as("probe_key"),
            concat(substring(col("c_name"), 1, 9), expr("substring(c_name, 11)")).as("probe_name"),
            col("c_nationkey").as("probe_nation"),
            (col("c_acctbal") + 0.25).as("probe_bal"),
            col("c_mktsegment").as("probe_seg"))
        val scored = cust.join(broadcast(probes),
            col("c_nationkey") === col("probe_nation"))
          .withColumn("lev", levenshtein(col("c_name"), col("probe_name")))
          .withColumn("score",
            when(col("c_name") === col("probe_name"), 40)
              .when(col("lev") <= 1, 25).when(col("lev") <= 2, 10).otherwise(0)
            + when(col("c_mktsegment") === col("probe_seg"), 10).otherwise(0)
            + when(abs(col("c_acctbal") - col("probe_bal")) <= 0.5, 20).otherwise(0))
        val w = Window.partitionBy("probe_key").orderBy(desc("score"), col("c_custkey"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("score") >= 45)
          .select(col("probe_key"), col("c_custkey").as("matched_key"),
            col("score").cast("long").as("score"))
          .orderBy("probe_key")
      },
      Some("""WITH probes AS (
             |  SELECT c_custkey AS probe_key,
             |    substr(c_name, 1, 9) || substr(c_name, 11) AS probe_name,
             |    c_nationkey AS probe_nation, c_acctbal + 0.25 AS probe_bal,
             |    c_mktsegment AS probe_seg
             |  FROM customer WHERE c_custkey % 50 = 7),
             |scored AS (
             |  SELECT probe_key, c_custkey,
             |    (CASE WHEN c_name = probe_name THEN 40
             |          WHEN levenshtein(c_name, probe_name) <= 1 THEN 25
             |          WHEN levenshtein(c_name, probe_name) <= 2 THEN 10 ELSE 0 END
             |     + CASE WHEN c_mktsegment = probe_seg THEN 10 ELSE 0 END
             |     + CASE WHEN abs(c_acctbal - probe_bal) <= 0.5 THEN 20 ELSE 0 END) AS score
             |  FROM customer JOIN probes ON c_nationkey = probe_nation)
             |SELECT probe_key, c_custkey AS matched_key, CAST(score AS BIGINT) AS score
             |FROM scored
             |QUALIFY row_number() OVER (PARTITION BY probe_key
             |  ORDER BY score DESC, c_custkey) = 1 AND score >= 45
             |ORDER BY probe_key""".stripMargin)),

    // ---- TIME-of-day cast on the gate (reference Types.TIME,
    //      JdbcTypeHandler.java:87-92): lenient single-digit "H:m:s"
    //      inputs normalize to "HH:mm:ss" strings — the portable form
    //      across file sinks; the oracle derives the same wall-clock
    //      from the source timestamps directly. ----
    Q("etl_time_cast",
      (s, dir) => {
        val ev = Tables.t(s, dir, "events")
          .select(col("event_id"),
            date_format(col("ts"), "H:m:s").as("raw_time"))
        val mappings = List(
          FieldMapping("event_id", "event_id", "NUMBER", "LONG", isDestNullable = false),
          FieldMapping("raw_time", "event_time", "VARCHAR2", "TIME"))
        MappingOp(ev, mappings).orderBy("event_id")
      },
      Some("""SELECT event_id,
             |strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S') AS event_time
             |FROM events ORDER BY event_id""".stripMargin)),

    // ---- column profiling (the pre-mapping data-quality survey):
    //      per-column null/distinct counts and typed min/max over ONE
    //      scan, assembled tall via stack. Exact COUNT(DISTINCT) here;
    //      the operator's approx mode (HLL) is the 100 TB default. ----
    Q("etl_profile_columns",
      (s, dir) => Profile.profile(
          Tables.t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
        .orderBy("col_name"),
      Some(Seq(
          ("c_custkey", true), ("c_name", false), ("c_nationkey", true),
          ("c_acctbal", true), ("c_mktsegment", false))
        .map { case (c, num) =>
          val (minN, maxN, minS, maxS) =
            if (num) (s"CAST(MIN($c) AS DOUBLE)", s"CAST(MAX($c) AS DOUBLE)",
              "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
            else ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
              s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
             |COUNT(*) - COUNT($c) AS n_nulls,
             |COUNT(DISTINCT $c) AS n_distinct,
             |$minN AS min_num, $maxN AS max_num,
             |$minS AS min_str, $maxS AS max_str FROM customer""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),

    // ---- LIVE JDBC round-trip (S1/S3/S4 + W1): the reference's core
    //      identity — a database-to-database load — executing against
    //      a real embedded Derby database (the derby jars ship with
    //      Spark). A mapped/cast subset of orders goes OUT through the
    //      W1 batch-insert sink (batchsize, truncate-in-place,
    //      VARCHAR DDL override — Derby's default CLOB mapping is not
    //      comparable server-side), then comes BACK through the
    //      partitioned JDBC scan (4 stride cursors = the docx §4
    //      paging reader) with a predicate that Catalyst pushes into
    //      the database's WHERE clause (PlanSpec asserts it). The
    //      oracle runs the same transform over the original parquet —
    //      green means the full write+read+cast+pushdown path is
    //      value-preserving through a real DBMS. ----
    Q("etl_jdbc_roundtrip",
      (s, dir) => {
        Readers.ensureDerbyHome()
        // DB path keyed by CONTENT fingerprint (dir.hashCode could
        // collide across corpora and share one table), under the
        // owner-only cache root. NOTE embedded Derby allows ONE
        // booting JVM per database: this gate query assumes no
        // concurrent verify/bench process over the same sf dir (the
        // driver runs them serially; a second process would fail fast
        // with XJ040, not corrupt).
        val dbFp = Tables.fingerprint(s, s"$dir/orders.parquet")
        val url = s"jdbc:derby:${CacheDirs.root}/fix_derby_$dbFp/db;create=true"
        val mappings = List(
          FieldMapping("o_orderkey", "order_id", "NUMBER", "LONG", isDestNullable = false),
          FieldMapping("o_custkey", "cust_id", "NUMBER", "LONG"),
          FieldMapping("o_orderstatus", "status", "VARCHAR2", "STRING"),
          FieldMapping("o_totalprice", "total", "NUMBER", "DOUBLE"),
          FieldMapping("o_orderdate", "order_date", "DATE", "DATE"))
        Writers.write(
          MappingOp(Tables.t(s, dir, "orders"), mappings),
          DestinationConfig("JDBC", ConnectionDetails(
            jdbcUrl = Some(url), tableName = Some("ORDERS_RT"),
            createTableColumnTypes = Some("status VARCHAR(1)")), batchSize = 500))
        // stride bounds derived from the data (one metadata agg —
        // hardcoded bounds would pile most keys into the last stride
        // at bigger SFs, reducing the 4 cursors to effectively one)
        val kRow = Tables.t(s, dir, "orders")
          .agg(min("o_orderkey"), max("o_orderkey")).head()
        val cfg = SourceConfig("JDBC", ConnectionDetails(
          jdbcUrl = Some(url), tableName = Some("ORDERS_RT"),
          fetchSize = Some(1000),
          partitionColumn = Some("order_id"), numPartitions = Some(4),
          lowerBound = Some(kRow.getLong(0)), upperBound = Some(kRow.getLong(1))))
        Readers.jdbc(s, cfg)
          .filter(col("total") > 100000.0 && col("status") === "F")
          .select("order_id", "cust_id", "status", "total", "order_date")
          .orderBy("order_id")
      },
      Some("""SELECT o_orderkey AS order_id, o_custkey AS cust_id,
             |o_orderstatus AS status, CAST(o_totalprice AS DOUBLE) AS total,
             |CAST(o_orderdate AS DATE) AS order_date FROM orders
             |WHERE o_totalprice > 100000.0 AND o_orderstatus = 'F'
             |ORDER BY order_id""".stripMargin)),

    // ---- ORC source on the gate path: part round-trips through the
    //      Writers ORC sink and back through the Readers ORC scan +
    //      MappingOp. Columnar parity with parquet — pruning, stripe
    //      stat skipping, and vectorized reads all apply, so a shop
    //      standardized on ORC loses nothing switching in. ----
    Q("etl_orc_source",
      (s, dir) => {
        val fix = s"${CacheDirs.root}/fix_orc_${java.lang.Integer.toHexString(dir.hashCode)}"
        Writers.write(
          Tables.t(s, dir, "part").select("p_partkey", "p_name", "p_retailprice"),
          DestinationConfig("ORC", ConnectionDetails(path = Some(fix))))
        val mappings = List(
          FieldMapping("p_partkey", "part_id", "NUMBER", "LONG", isDestNullable = false),
          FieldMapping("p_name", "part_name", "VARCHAR2", "STRING"),
          FieldMapping("p_retailprice", "retail_price", "NUMBER", "DOUBLE"))
        val cfg = SourceConfig("ORC", ConnectionDetails(path = Some(fix)))
        MappingOp(Readers.forConfig(s, cfg, mappings), mappings).orderBy("part_id")
      },
      Some("""SELECT p_partkey AS part_id, p_name AS part_name,
             |CAST(p_retailprice AS DOUBLE) AS retail_price
             |FROM part ORDER BY part_id""".stripMargin)),

    // ---- XML source on the gate path (Spark 4 native XML): nation
    //      round-trips through the Writers XML sink (rowTag from the
    //      tableName knob) and back with a DECLARED all-string schema,
    //      casting in the mapping stage like the JSON path. ----
    Q("etl_xml_source",
      (s, dir) => {
        val fix = s"${CacheDirs.root}/fix_xml_${java.lang.Integer.toHexString(dir.hashCode)}"
        Writers.write(
          Tables.t(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"),
          DestinationConfig("XML", ConnectionDetails(
            path = Some(fix), tableName = Some("nation"))))
        val mappings = List(
          FieldMapping("n_nationkey", "nation_key", "NUMBER", "LONG", isDestNullable = false),
          FieldMapping("n_name", "nation_name", "VARCHAR2", "STRING"),
          FieldMapping("n_regionkey", "region_key", "NUMBER", "INTEGER"))
        val cfg = SourceConfig("XML", ConnectionDetails(
          path = Some(fix), tableName = Some("nation")))
        MappingOp(Readers.forConfig(s, cfg, mappings), mappings).orderBy("nation_key")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nation_key, n_name AS nation_name,
             |CAST(n_regionkey AS INTEGER) AS region_key
             |FROM nation ORDER BY nation_key""".stripMargin)),

    // ---- fixed-width source on the gate path (S8): nation formatted
    //      into a padded fixed-layout text fixture, loaded back through
    //      the DataSource V2 connector + MappingOp casts. ----
    Q("etl_fixedwidth_source",
      (s, dir) => {
        val fix = s"${CacheDirs.root}/fix_fw_${java.lang.Integer.toHexString(dir.hashCode)}"
        Tables.t(s, dir, "nation").select(
          concat(
            rpad(col("n_nationkey").cast("string"), 5, " "),
            rpad(col("n_name"), 25, " "),
            rpad(col("n_regionkey").cast("string"), 5, " ")).as("value"))
          .write.mode("overwrite").text(fix)
        val mappings = List(
          FieldMapping("nkey", "nation_key", "NUMBER", "LONG", isDestNullable = false,
            fileColumnPosition = Some(1), fileColumnWidth = Some(5)),
          FieldMapping("nname", "nation_name", "VARCHAR2", "STRING",
            fileColumnPosition = Some(6), fileColumnWidth = Some(25)),
          FieldMapping("rkey", "region_key", "NUMBER", "INTEGER",
            fileColumnPosition = Some(31), fileColumnWidth = Some(5)))
        val cfg = SourceConfig("FIXED_WIDTH", ConnectionDetails(path = Some(fix)))
        MappingOp(Readers.forConfig(s, cfg, mappings), mappings).orderBy("nation_key")
      },
      Some("""SELECT CAST(n_nationkey AS BIGINT) AS nation_key, n_name AS nation_name,
             |CAST(n_regionkey AS INTEGER) AS region_key
             |FROM nation ORDER BY nation_key""".stripMargin)),

    // ---- binaryFile media source on the gate path (S8+): every 10th
    //      document's bytes land as ONE RAW FILE (doc_<id>.bin) in a
    //      fingerprint-keyed fixture dir (built distributed —
    //      writeMediaFiles — then atomically renamed into place), and
    //      come back through the binaryFile source with glob filter,
    //      filename-derived ids, and the maxBytes guard — which is ON
    //      the gate: the fixture plants a 2 MiB poison object that the
    //      1 MiB cap must drop before content deserialization, or the
    //      extra row turns this red. Feature extraction is the
    //      partition-batched stub pipeline; the oracle recomputes
    //      byte length + polynomial checksum from the same text. ----
    Q("etl_media_binaryfile",
      (s, dir) => {
        val fp = Tables.fingerprint(s, s"$dir/documents.parquet")
        val fix = graft.sinks.Commit.publishIfAbsent(s, s"${CacheDirs.root}/fix_media_$fp") { tmp =>
          // empty texts excluded on BOTH sides: Spark's split
          // planning drops zero-byte files before the source runs
          graft.multimodal.Multimodal.writeMediaFiles(
            Tables.t(s, dir, "documents")
              .filter(col("doc_id") % 10 === 0 && length(col("text")) > 0)
              .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
            "doc_id", "payload", tmp, prefix = "doc_", suffix = ".bin")
          java.nio.file.Files.write(
            java.nio.file.Paths.get(tmp, "doc_888888888.bin"),
            new Array[Byte](2 << 20)) // poison: over the maxBytes cap
        }
        graft.multimodal.Multimodal.extractFeatures(
            graft.multimodal.Multimodal.readMediaDir(s, fix,
              "application/octet-stream", glob = Some("*.bin"),
              maxBytes = Some(1L << 20), idFromName = Some("doc_(\\d+)\\.bin")))
          .toDF()
          .select(col("media_id"), col("modality"), col("n_bytes"), col("checksum"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id, 'application/octet-stream' AS modality,
             |CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             |list_reduce(list_prepend(CAST(0 AS BIGINT),
             |  [CAST(strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+1, 1)) * 16
             |      + strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+2, 1)) AS BIGINT)
             |   FOR i IN range(octet_length(encode(text)))]),
             |  (a, x) -> (a * 31 + x) % 1000000007) AS checksum
             |FROM documents WHERE doc_id % 10 = 0 AND octet_length(encode(text)) > 0
             |ORDER BY media_id""".stripMargin)),

    // ---- the MERGE_STRATEGY job step ON the hard gate: two
    //      config-driven jobs run end-to-end through JobRunner — the
    //      first loads the orders base into a parquet destination, the
    //      second merges a bumped-price update batch for every 10th
    //      key with mergeStrategy=KEEP_LATEST — and the query result
    //      is the destination read back. Green means the full
    //      config → step interpreter → merge → stage-and-swap →
    //      destination path is value-preserving; the oracle is the
    //      same keep-latest rewrite the operator-level
    //      etl_upsert_keep_latest row uses. ----
    // ---- snapshot time travel: two commits to a versioned
    //      destination (immutable v=N dirs + an atomically-renamed
    //      _current pointer — the minimal lake snapshot isolation),
    //      then ONE query reads BOTH versions and reports the rows
    //      that changed between them. At 100 TB the pointer swap is
    //      what makes concurrent readers consistent during writes,
    //      and pinned-version reads are the reproducibility story
    //      for training-data releases. ----
    Q("etl_time_travel",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_timetravel_").toString
        val root = s"$work/orders_versioned"
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        val v1 = graft.operators.Snapshots.write(base, root)
        val updated = base.withColumn("price_cents",
          when(col("o_orderkey") % 10 === 0, col("price_cents") + 100000L)
            .otherwise(col("price_cents")))
        graft.operators.Snapshots.write(updated, root)
        val old = graft.operators.Snapshots.read(s, root, Some(v1))
          .withColumnRenamed("price_cents", "price_v1")
        graft.operators.Snapshots.read(s, root) // live = v2
          .withColumnRenamed("price_cents", "price_v2")
          .join(old, "o_orderkey")
          .filter(col("price_v1") =!= col("price_v2"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey,
             |  CAST(round(o_totalprice * 100) + 100000 AS BIGINT) AS price_v2,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS price_v1
             |FROM orders WHERE o_orderkey % 10 = 0
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- range-dimension enrichment: classify each order into a
    //      price tier by a BROADCAST non-equi join against a
    //      boundary table. The dimension is rows-of-metadata sized,
    //      so the correct 100 TB plan is a broadcast nested-loop
    //      with the band condition — the fact side streams in place,
    //      no shuffle, no sort — NOT a sort-merge over a range key.
    //      Tiers are half-open [lo, hi) so every value lands in
    //      exactly one row and the join is 1:1. ----
    Q("etl_tier_lookup",
      (s, dir) => {
        import s.implicits._
        val tiers = Seq(
          ("T1_SMALL", 0.0, 50000.0),
          ("T2_MEDIUM", 50000.0, 150000.0),
          ("T3_LARGE", 150000.0, 300000.0),
          ("T4_JUMBO", 300000.0, Double.MaxValue))
          .toDF("tier", "lo", "hi")
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .join(broadcast(tiers),
            col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .select(col("o_orderkey"), col("o_totalprice"), col("tier"))
          .orderBy("o_orderkey")
      },
      Some("""WITH tiers(tier, lo, hi) AS (VALUES
             |  ('T1_SMALL', 0.0, 50000.0),
             |  ('T2_MEDIUM', 50000.0, 150000.0),
             |  ('T3_LARGE', 150000.0, 300000.0),
             |  ('T4_JUMBO', 300000.0, 1e308))
             |SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, tier
             |FROM orders JOIN tiers
             |  ON o_totalprice >= lo AND o_totalprice < hi
             |ORDER BY o_orderkey""".stripMargin)),

    // ---- P8 plugin transform stage ON the gate: the reference's
    //      stage-2 hook (Transformation type PYTHON_SCRIPT ->
    //      pluggable DataFrame => DataFrame) runs through the full
    //      config -> job -> LOAD -> destination path: the plugin
    //      uppercases a mapped column and derives a flag column, and
    //      the DESTINATION is read back — green means plugin output
    //      survives mapping, error enforcement, and the write,
    //      upgrading P8 from unit-only to a hard oracle row. ----
    Q("etl_plugin_transform",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_plugin_gate_").toString
        val destDir = s"$work/dest"
        val cfg = JobConfig(
          jobId = "plugin-gate-1",
          steps = List("LOAD"),
          source = SourceConfig("PARQUET",
            ConnectionDetails(path = Some(s"$dir/orders.parquet"))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("o_orderkey", "order_id", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("o_orderpriority", "priority", "VARCHAR2", "STRING"),
            FieldMapping("o_totalprice", "total", "NUMBER", "DOUBLE")),
          transformation = Transformation("PLUGIN", name = Some("priority_flag")))
        val plugins = Map[String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
          "priority_flag" -> (df => df
            .withColumn("priority", upper(col("priority")))
            .withColumn("is_urgent", col("priority").startsWith("1"))))
        val r = JobRunner.run(s, cfg, plugins = plugins)
        require(r.status == JobRunner.Completed, s"plugin job failed: ${r.message}")
        s.read.parquet(destDir).orderBy("order_id")
      },
      Some("""SELECT o_orderkey AS order_id, upper(o_orderpriority) AS priority,
             |CAST(o_totalprice AS DOUBLE) AS total,
             |(upper(o_orderpriority) LIKE '1%') AS is_urgent
             |FROM orders ORDER BY order_id""".stripMargin)),

    // ---- JSON-lines destination on the gate (the W-side format the
    //      REST sink streams and the JSON source reads, here as a
    //      stored destination through the full job path): LOAD maps
    //      orders into a JSON dir, read back with an explicit schema
    //      (inference would make types feed-dependent). Integer and
    //      string columns only — a double would round-trip through
    //      JSON text, which is exact in Spark but a formatting
    //      dependency this row doesn't need. ----
    Q("etl_json_sink",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_jsonsink_gate_").toString
        val destDir = s"$work/dest"
        val cfg = JobConfig(
          jobId = "jsonsink-gate-1",
          steps = List("LOAD"),
          source = SourceConfig("PARQUET",
            ConnectionDetails(path = Some(s"$dir/orders.parquet"))),
          destination = Some(DestinationConfig("JSON",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("o_orderkey", "order_id", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("o_orderstatus", "status", "VARCHAR2", "STRING"),
            FieldMapping("o_orderpriority", "priority", "VARCHAR2", "STRING")))
        val r = JobRunner.run(s, cfg)
        require(r.status == JobRunner.Completed, s"json sink job failed: ${r.message}")
        s.read.schema("order_id LONG, status STRING, priority STRING")
          .json(destDir).orderBy("order_id")
      },
      Some("""SELECT o_orderkey AS order_id, o_orderstatus AS status,
             |o_orderpriority AS priority FROM orders ORDER BY order_id""".stripMargin)),

    // ---- line-oriented TEXT source/sink round-trip: the lowest
    //      common denominator of data interchange (log shipping,
    //      one-doc-per-line corpora). Written via the text sink,
    //      read back with spark.read.text and re-parsed on a \x01
    //      field separator; the gate hash-compares the ROUND-TRIPPED
    //      STRINGS against the origin table, pinning that the
    //      text path neither re-encodes nor trims content. Plain
    //      (uncompressed) text stays line-splittable, so at 100 TB
    //      the read parallelizes by blocks — unlike the .gz variant
    //      whose files are single-task each. ----
    Q("etl_text_roundtrip",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_textsrc_gate_").toString
        val dest = s"$work/lines"
        Tables.t(s, dir, "documents")
          .select(concat_ws("\u0001", col("doc_id"), col("text")).as("value"))
          .write.mode("overwrite").text(dest)
        s.read.text(dest)
          .select(split(col("value"), "\u0001").as("p"))
          .select(expr("CAST(p[0] AS BIGINT)").as("doc_id"),
            col("p").getItem(1).as("text_rt"))
          .withColumn("n_chars_rt", length(col("text_rt")).cast("long"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, text AS text_rt,
             |CAST(length(text) AS BIGINT) AS n_chars_rt
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- GZIP-compressed CSV source: the codec path of the CSV
    //      reader (vendor drops arrive as .csv.gz far more often
    //      than plain). Staged from orders with the gzip codec, read
    //      back through the schema-pinned CSV source; the gate
    //      hash-compares the full round trip including the DOUBLE
    //      price (shortest-roundtrip formatting) and the
    //      day-granularity date. The honest scale note: a .gz file
    //      is NOT splittable — one task per file regardless of size,
    //      so at 100 TB the ingest parallelism is the FILE COUNT;
    //      land many medium files (or re-encode to a splittable
    //      codec) before the heavy transforms. ----
    Q("etl_csv_gzip_source",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_csvgz_gate_").toString
        val dest = s"$work/csv"
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("o_orderdate").cast("date").as("o_day"))
          .write.mode("overwrite").option("header", "true")
          .option("compression", "gzip").csv(dest)
        s.read.option("header", "true")
          .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, o_day DATE")
          .csv(dest)
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice,
             |CAST(o_orderdate AS DATE) AS o_day
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- WRITE-AUDIT-PUBLISH (WAP): candidates are staged BESIDE
    //      the destination, audited AS WRITTEN (the staged files are
    //      read back — auditing the plan would miss writer bugs),
    //      and only a passing audit is published in its place
    //      (`graft.sinks.Commit.replace`); a
    //      failing audit leaves the published data byte-identical
    //      and cleans its staging. The gate runs one passing cycle,
    //      then a corrupted candidate (half the rows, null keys
    //      injected) whose audit must REJECT — the read-back proves
    //      the destination still holds cycle-1 content and both
    //      verdicts ride the row as pinned booleans. ----
    Q("etl_write_audit_publish",
      (s, dir) => {
        import org.apache.hadoop.fs.{FileSystem, Path}
        val work = CacheDirs.tempWorkDir("graft_wap_gate_").toString
        val dest = s"$work/published"
        val fs = FileSystem.get(new java.net.URI(dest),
          s.sparkContext.hadoopConfiguration)
        def wapCycle(candidate: org.apache.spark.sql.DataFrame): Boolean =
          try {
            graft.sinks.Commit.repair(fs, new Path(dest))
            graft.sinks.Commit.replace(fs, new Path(dest)) { staged =>
              candidate.write.parquet(staged.toString)
              val audit = s.read.parquet(staged.toString)
              val nullKeys = audit.filter(col("order_id").isNull).limit(1).count()
              val n = audit.count()
              if (n < 1000L || nullKeys > 0)
                throw new IllegalStateException(
                  s"WAP audit failed: rows=$n nullKeys=$nullKeys")
            }
            true
          } catch { case _: IllegalStateException => false }
        val good = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("order_id"),
            col("o_orderstatus").as("status"))
        val corrupted = Tables.t(s, dir, "orders")
          .filter(col("o_orderkey") % 2 === 0)
          .select(when(col("o_orderkey") % 10 === 0, lit(null))
            .otherwise(col("o_orderkey")).as("order_id"),
            col("o_orderstatus").as("status"))
        val p1 = wapCycle(good)
        val p2 = wapCycle(corrupted)
        s.read.parquet(dest)
          .withColumn("cycle1_published", lit(p1))
          .withColumn("cycle2_rejected", lit(!p2))
          .orderBy("order_id")
      },
      Some("""SELECT o_orderkey AS order_id, o_orderstatus AS status,
             |TRUE AS cycle1_published, TRUE AS cycle2_rejected
             |FROM orders ORDER BY order_id""".stripMargin)),

    // ---- migration/row-content AUDIT: an ORDER-INDEPENDENT table
    //      checksum (sum of per-row canonical-string hashes mod p —
    //      addition commutes, so partitioning and row order never
    //      matter) plus the row count: the cheap "did the copy land
    //      bit-identical?" handshake two engines can compute
    //      independently, which is how this oracle row works. The
    //      canonical string avoids doubles (cents as BIGINT) because
    //      double→string formatting is engine-specific; every
    //      numeric is cast through exact integers. Map-side
    //      everything; the reduce is one scalar aggregate. ----
    Q("etl_rowhash_audit",
      (s, dir) => Tables.t(s, dir, "orders")
        .select(concat_ws("|", col("o_orderkey"), col("o_orderstatus"),
          round(col("o_totalprice") * 100).cast("long")).as("canon"))
        .withColumn("rh", expr(
          "aggregate(transform(sequence(1, length(canon)), " +
            "j -> CAST(ascii(substring(canon, j, 1)) AS BIGINT)), " +
            "0L, (a, x) -> (a * 31 + x) % 1000000007)"))
        .agg(count(lit(1)).as("n_rows"),
          expr("CAST(sum(rh) % 1000000007 AS BIGINT)").as("table_checksum")),
      Some("""WITH c AS (SELECT CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
             |         CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) AS canon
             |       FROM orders),
             |h AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        [CAST(ascii(substr(canon, j + 1, 1)) AS BIGINT)
             |         FOR j IN range(length(canon))]),
             |        (a, x) -> (a * 31 + x) % 1000000007) AS rh FROM c)
             |SELECT COUNT(*) AS n_rows,
             |  CAST(CAST(SUM(rh) AS BIGINT) % 1000000007 AS BIGINT) AS table_checksum
             |FROM h""".stripMargin)),

    // ---- cross-table REFERENTIAL-INTEGRITY audit: orphan counts
    //      for every FK relation of the star schema in one report —
    //      the validation the single-table quality rules (P4/P9,
    //      etl_quality_rules) cannot express. Each relation is one
    //      LEFT ANTI join; at scale the dimension side broadcasts
    //      (nation/region/customer) or hash-joins on the key
    //      (orders/part), and the audit output is relation-count
    //      rows of metadata. union keeps relation order stable;
    //      sort by relation for the gate. ----
    Q("etl_referential_audit",
      (s, dir) => {
        def orphans(name: String, fact: org.apache.spark.sql.DataFrame,
                    fk: String, dim: org.apache.spark.sql.DataFrame,
                    pk: String) =
          fact.select(col(fk)).filter(col(fk).isNotNull)
            .join(dim.select(col(pk).as(fk)), Seq(fk), "left_anti")
            .agg(count(lit(1)).as("n_orphans"))
            .select(lit(name).as("relation"), col("n_orphans"))
        val li = Tables.t(s, dir, "lineitem")
        orphans("customer->nation", Tables.t(s, dir, "customer"), "c_nationkey",
            Tables.t(s, dir, "nation"), "n_nationkey")
          .unionByName(orphans("lineitem->orders", li, "l_orderkey",
            Tables.t(s, dir, "orders"), "o_orderkey"))
          .unionByName(orphans("lineitem->part", li, "l_partkey",
            Tables.t(s, dir, "part"), "p_partkey"))
          .unionByName(orphans("nation->region", Tables.t(s, dir, "nation"), "n_regionkey",
            Tables.t(s, dir, "region"), "r_regionkey"))
          .unionByName(orphans("orders->customer", Tables.t(s, dir, "orders"), "o_custkey",
            Tables.t(s, dir, "customer"), "c_custkey"))
          .orderBy("relation")
      },
      Some("""SELECT 'customer->nation' AS relation, CAST(COUNT(*) AS BIGINT) AS n_orphans
             |FROM customer WHERE c_nationkey IS NOT NULL
             |  AND c_nationkey NOT IN (SELECT n_nationkey FROM nation)
             |UNION ALL
             |SELECT 'lineitem->orders', CAST(COUNT(*) AS BIGINT) FROM lineitem
             |WHERE l_orderkey IS NOT NULL
             |  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
             |UNION ALL
             |SELECT 'lineitem->part', CAST(COUNT(*) AS BIGINT) FROM lineitem
             |WHERE l_partkey IS NOT NULL
             |  AND l_partkey NOT IN (SELECT p_partkey FROM part)
             |UNION ALL
             |SELECT 'nation->region', CAST(COUNT(*) AS BIGINT) FROM nation
             |WHERE n_regionkey IS NOT NULL
             |  AND n_regionkey NOT IN (SELECT r_regionkey FROM region)
             |UNION ALL
             |SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT) FROM orders
             |WHERE o_custkey IS NOT NULL
             |  AND o_custkey NOT IN (SELECT c_custkey FROM customer)
             |ORDER BY relation""".stripMargin)),

    // ---- DEDUP_DESTINATION on the hard gate: a destination seeded
    //      with duplicate keys (every even order twice, ver 2 and
    //      ver 1) is rewritten in place by the job step — keeper =
    //      struct-min over (ver, other columns), crash-safe swap —
    //      and read back. The oracle states the expected survivor
    //      set in closed form: even keys keep their ver-1 copy, odd
    //      keys their only (ver-2) row. ----
    Q("etl_dedup_destination",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_dedup_gate_").toString
        val destDir = s"$work/dest"
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        base.withColumn("ver", lit(2L))
          .union(base.filter(col("o_orderkey") % 2 === 0).withColumn("ver", lit(1L)))
          .write.parquet(destDir)
        val cfg = JobConfig(
          jobId = "dedup-gate-1",
          steps = List("DEDUP_DESTINATION"),
          source = SourceConfig("PARQUET",
            ConnectionDetails(path = Some(destDir))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("o_orderkey", "o_orderkey", "NUMBER", "LONG", isDestNullable = false)),
          transformation = Transformation("NONE", parameters = Map(
            "dedupKeyColumns" -> "o_orderkey",
            "dedupOrderColumn" -> "ver")))
        val r = JobRunner.run(s, cfg)
        require(r.status == JobRunner.Completed, s"dedup job failed: ${r.message}")
        s.read.parquet(destDir).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice,
             |CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS ver
             |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- CONTINUOUS-DEDUP INGEST through the config surface
    //      (INGEST_DEDUP_DESTINATION — the round's streaming dedup
    //      tier composed end-to-end): two document batches (doc_id
    //      parity) submit as two JOBS against one standing state dir;
    //      batch 1's cross-batch pairs can only come from batch 0's
    //      PERSISTED sketch, and the standing cluster assignment
    //      folds incrementally from each batch's new pairs. The final
    //      snapshot must equal the WITH RECURSIVE min-label closure
    //      over the FULL corpus's exact-Jaccard pairs — one ground
    //      truth shared with dedup_clusters/text_stream_neardup, now
    //      reached through config → job → exactly-once state. ----
    Q("etl_ingest_dedup",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_ingest_dedup_").toString
        val destDir = s"$work/state"
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$work/b0")
        docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$work/b1")
        def job(src: String, id: String, batchId: Long) = JobConfig(
          jobId = id,
          steps = List("INGEST_DEDUP_DESTINATION"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("doc_id", "doc_id", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("text", "text", "VARCHAR2", "STRING")),
          transformation = Transformation("NONE", parameters = Map(
            "ingestIdColumn" -> "doc_id",
            "ingestTextColumn" -> "text",
            "ingestBatchId" -> batchId.toString)))
        val r0 = JobRunner.run(s, job(s"$work/b0", "ingest-dedup-0", 0L))
        require(r0.status == JobRunner.Completed, s"ingest 0 failed: ${r0.message}")
        val r1 = JobRunner.run(s, job(s"$work/b1", "ingest-dedup-1", 1L))
        require(r1.status == JobRunner.Completed, s"ingest 1 failed: ${r1.message}")
        s.read.parquet(s"$destDir/clusters")
          .filter(col("batch") === 1).drop("batch")
          .orderBy("node")
      },
      Some("""WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
             |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
             |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             |           GROUP BY 1, 2),
             |pairs AS (SELECT doc_a, doc_b
             |          FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
             |          WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common) * 7),
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             |          UNION SELECT doc_b, doc_a FROM pairs),
             |reach(node, lbl) AS (SELECT src, src FROM edges
             |                     UNION
             |                     SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
             |cl AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
             |SELECT node, cluster_id FROM cl ORDER BY node""".stripMargin)),

    // ---- SUBSTRING-GRAIN CONTINUOUS INGEST through the config
    //      surface (INGEST_SPAN_DESTINATION): two document batches
    //      (doc_id parity) submit as two JOBS against one standing
    //      gram-summary state; each batch's covered duplicated spans
    //      emit at arrival time (batch 1's cross-batch coverage can
    //      only come through batch 0's persisted summary). The union
    //      of both jobs' spans must equal the streaming sink's
    //      arrival-time semantics — the text_stream_dup_spans oracle
    //      verbatim, now reached through config → job →
    //      exactly-once state. ----
    Q("etl_ingest_spans",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_ingest_spans_").toString
        val destDir = s"$work/state"
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        docs.filter(col("doc_id") % 2 === 0).write.parquet(s"$work/b0")
        docs.filter(col("doc_id") % 2 === 1).write.parquet(s"$work/b1")
        def job(src: String, id: String, batchId: Long) = JobConfig(
          jobId = id,
          steps = List("INGEST_SPAN_DESTINATION"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("doc_id", "doc_id", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("text", "text", "VARCHAR2", "STRING")),
          transformation = Transformation("NONE", parameters = Map(
            "ingestIdColumn" -> "doc_id",
            "ingestTextColumn" -> "text",
            "ingestBatchId" -> batchId.toString)))
        val r0 = JobRunner.run(s, job(s"$work/b0", "ingest-spans-0", 0L))
        require(r0.status == JobRunner.Completed, s"span ingest 0 failed: ${r0.message}")
        val r1 = JobRunner.run(s, job(s"$work/b1", "ingest-spans-1", 1L))
        require(r1.status == JobRunner.Completed, s"span ingest 1 failed: ${r1.message}")
        s.read.parquet(s"$destDir/spans").drop("batch")
          .orderBy("doc_id", "start_pos")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
             |      FROM (SELECT doc_id, w,
             |              unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
             |                         AND b.doc_id % 2 <= a.doc_id % 2),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             |  CAST(COUNT(*) + 2 AS BIGINT) AS n_tokens
             |FROM isl GROUP BY doc_id, i
             |HAVING COUNT(*) + 2 >= 5
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- BM25-INDEX INGEST through the config surface
    //      (INGEST_BM25_DESTINATION — VERDICT r17 #1: BM25
    //      maintenance joins the batch=<id> exactly-once protocol):
    //      THREE document batches (doc_id mod 3) submit as three
    //      JOBS against one standing index state — a build plus two
    //      appends — and the served top-10 must equal the
    //      full-corpus BM25 ranking, the text_bm25_topk oracle
    //      verbatim. Postings land bucket-partitioned per batch (a
    //      query's terms prune to their buckets in every batch
    //      partition), stats land as per-batch (d, l) DELTAS folded
    //      at query time, so no append ever rewrites a posting OR
    //      overwrites a global stats row — the two-non-atomic-commit
    //      hole bm25AppendBatch documented has no surface here. ----
    Q("etl_ingest_bm25",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_ingest_bm25_").toString
        val destDir = s"$work/state"
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        (0 to 2).foreach(i =>
          docs.filter(col("doc_id") % 3 === i).write.parquet(s"$work/b$i"))
        def job(src: String, id: String, batchId: Long) = JobConfig(
          jobId = id,
          steps = List("INGEST_BM25_DESTINATION"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("doc_id", "doc_id", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("text", "text", "VARCHAR2", "STRING")),
          transformation = Transformation("NONE", parameters = Map(
            "ingestIdColumn" -> "doc_id",
            "ingestTextColumn" -> "text",
            "ingestBatchId" -> batchId.toString)))
        (0 to 2).foreach { i =>
          val r = JobRunner.run(s, job(s"$work/b$i", s"ingest-bm25-$i", i.toLong))
          require(r.status == JobRunner.Completed, s"bm25 ingest $i failed: ${r.message}")
        }
        TextQueries.bm25IngestTopK(s, destDir,
          Seq("spark", "merge", "window"), 10)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT token,
             |          CAST(round(ln(2.0 * (s.nd + 1) / (df.df * 2 + 1)) * 1000) AS BIGINT) AS idf_pm
             |        FROM df CROSS JOIN stats s),
             |sc AS (SELECT tf.doc_id,
             |         (idf.idf_pm * 22000 * tf.tf * 1000)
             |           // (10000 * tf.tf + 3000 + 9 * ((1000 * d.dl * s.nd) // s.l)) AS contrib
             |       FROM tf JOIN idf USING (token) JOIN d USING (doc_id) CROSS JOIN stats s)
             |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro
             |FROM sc GROUP BY 1
             |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- DRIFT-DECIDED ANN MAINTENANCE (VERDICT r17 #4 — the
    //      StatusDecider composed onto the operator that documents
    //      it): the standing IVF index (INGEST_ANN_DESTINATION state)
    //      is maintained by JobRunner.runDecided — each fresh batch
    //      first runs a VALIDATE_DRIFT probe job (PSI of the batch's
    //      first embedding component vs the index-era baseline); pass
    //      -> the APPEND job (map-side assignToCentroids, batch-
    //      sized), fail -> the REBUILD job (new centroids + full
    //      reassignment = a new serving era). Fixture: batch 1 (same
    //      distribution, PSI ~0.005-0.02) must take the append
    //      branch; batch 2 (every vector shifted +0.5 — injected
    //      drift, PSI ~8-11) must take the rebuild branch — both
    //      REQUIREd. The served top-10 over the post-rebuild index at
    //      nProbe = nLists must equal exact cosine top-k over the
    //      full drifted corpus — proving the rebuilt index serves
    //      correctly after the injected drift. ----
    Q("etl_ann_drift_decider",
      (s, dir) => {
        import org.apache.spark.sql.functions.{element_at, expr => sqlExpr}
        val work = CacheDirs.tempWorkDir("graft_ann_decider_").toString
        val destDir = s"$work/index"
        val emb = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast(
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType)).as("e"))
        def withDrift(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("e0", element_at(col("e"), 1))
        withDrift(emb.filter(col("vec_id") % 2 === 0)).write.parquet(s"$work/b0")
        withDrift(emb.filter(col("vec_id") % 2 === 1)).write.parquet(s"$work/b1")
        withDrift(emb.select((col("vec_id") + lit(10000000L)).as("vec_id"),
          sqlExpr("transform(e, x -> x + 0.5D)").as("e"))).write.parquet(s"$work/b2")
        def probe(src: String, id: String) = JobConfig(
          jobId = id, steps = List("VALIDATE_DRIFT"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = None, mappings = Nil,
          transformation = Transformation("NONE", parameters = Map(
            "driftColumn" -> "e0",
            "driftBandWidth" -> "0.1",
            "driftBaselinePath" -> s"$work/b0")))
        def maint(src: String, id: String, batchId: Long, mode: String) = JobConfig(
          jobId = id, steps = List("INGEST_ANN_DESTINATION"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = Nil,
          transformation = Transformation("NONE", parameters = Map(
            "ingestIdColumn" -> "vec_id",
            "ingestVectorColumn" -> "e",
            "ingestBatchId" -> batchId.toString,
            "annNLists" -> "16",
            "annMode" -> mode)))
        // batch 0 builds the index (the first era)
        val r0 = JobRunner.run(s, maint(s"$work/b0", "ann-build-0", 0L, "rebuild"))
        require(r0.status == JobRunner.Completed, s"ann build failed: ${r0.message}")
        // batch 1: in-distribution -> the decider must take APPEND.
        // expectedFailure pins the onFail branch to the drift gate's
        // own verdict — a probe that could not RUN takes no branch
        val (p1, m1) = JobRunner.runDecided(s, probe(s"$work/b1", "ann-probe-1"),
          onPass = maint(s"$work/b1", "ann-append-1", 1L, "append"),
          onFail = maint(s"$work/b1", "ann-rebuild-1", 1L, "rebuild"),
          expectedFailure = Some("VALIDATE_DRIFT: psi_micro"))
        require(p1.status == JobRunner.Completed,
          s"decider must PASS the in-distribution batch: ${p1.message}")
        require(m1.exists(_.status == JobRunner.Completed),
          s"append branch failed: ${m1.map(_.message)}")
        // batch 2: injected drift -> the decider must take REBUILD
        val (p2, m2) = JobRunner.runDecided(s, probe(s"$work/b2", "ann-probe-2"),
          onPass = maint(s"$work/b2", "ann-append-2", 2L, "append"),
          onFail = maint(s"$work/b2", "ann-rebuild-2", 2L, "rebuild"),
          expectedFailure = Some("VALIDATE_DRIFT: psi_micro"))
        require(p2.status != JobRunner.Completed,
          "decider must FAIL the drifted batch (injected +0.5 shift)")
        require(m2.exists(_.status == JobRunner.Completed),
          s"rebuild branch failed: ${m2.map(_.message)}")
        // the rebuilt index serves the FULL drifted corpus exactly
        val all = emb.unionByName(emb.select(
          (col("vec_id") + lit(10000000L)).as("vec_id"),
          sqlExpr("transform(e, x -> x + 0.5D)").as("e")))
        val probes = all.filter(col("vec_id").isin(0L, 7L, 10000000L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.streaming.EventStreams.annIngestTopK(s, destDir, probes,
            k = 10, nProbe = 16)
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |all_e AS (SELECT vec_id, v FROM e
             |          UNION ALL
             |          SELECT vec_id + 10000000, list_transform(v, x -> x + 0.5) FROM e),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM all_e
             |      WHERE vec_id IN (0, 7, 10000000)),
             |d AS (SELECT p.probe_id, a.vec_id,
             |        list_dot_product(a.v, p.pv)
             |          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos_sim
             |      FROM all_e a, p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY cos_sim DESC, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, cos_sim FROM r WHERE rk <= 10
             |ORDER BY probe_id, cos_sim DESC, vec_id""".stripMargin)),

    // ---- DRIFT-DECIDED BM25 MAINTENANCE (VERDICT r18 #5 — the
    //      decider pattern proven GENERIC, not ANN-shaped): the
    //      standing BM25 index (INGEST_BM25_DESTINATION state) is
    //      maintained by the SAME runDecided composition as the ANN
    //      gate, with the probe now a token-distribution drift gate —
    //      VALIDATE_DRIFT's PSI over each batch's per-doc mean token
    //      length (exact integer milli-units) vs the index-era
    //      baseline. Pass -> the incremental append (one batch's own
    //      tokenization, the standing protocol); fail -> an index
    //      VERSION ROLL: the accumulated corpus + the drifted batch
    //      re-ingest as batch 0 of a FRESH state dir (for BM25,
    //      "rebuild" = retokenize-the-world under new text statistics
    //      — the operational answer to vocabulary drift, e.g. a
    //      tokenizer or normalization change rolling out). Fixture:
    //      batch 1 (another slice of the same corpus) must take the
    //      append branch; batch 2 (every token stretched by 'xx' —
    //      injected length drift, bands shift ~2 widths) must take
    //      the rebuild branch — both REQUIREd. The rolled index's
    //      served top-10 must equal the full-corpus BM25 oracle over
    //      original + drifted docs, replayed verbatim in SQL. ----
    Q("etl_bm25_drift_decider",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_bm25_decider_").toString
        val stateV1 = s"$work/state_v1"
        val stateV2 = s"$work/state_v2"
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        def withTok(df: org.apache.spark.sql.DataFrame) = df.withColumn(
          "tok_len_milli",
          expr("(length(replace(text, ' ', '')) * 1000) div size(split(text, ' '))"))
        val drifted = docs.filter(col("doc_id") % 3 === 2)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            expr("replace(text, ' ', 'xx ')").as("text"))
        withTok(docs.filter(col("doc_id") % 3 === 0)).write.parquet(s"$work/b0")
        withTok(docs.filter(col("doc_id") % 3 === 1)).write.parquet(s"$work/b1")
        withTok(drifted).write.parquet(s"$work/b2")
        // the rebuild branch's source: accumulated corpus + the batch
        docs.filter(col("doc_id") % 3 =!= 2).unionByName(drifted)
          .write.parquet(s"$work/full")
        def probe(src: String, id: String) = JobConfig(
          jobId = id, steps = List("VALIDATE_DRIFT"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = None, mappings = Nil,
          transformation = Transformation("NONE", parameters = Map(
            "driftColumn" -> "tok_len_milli",
            "driftBandWidth" -> "1000",
            "driftBaselinePath" -> s"$work/b0")))
        def ingest(src: String, id: String, dest: String, batchId: Long) = JobConfig(
          jobId = id, steps = List("INGEST_BM25_DESTINATION"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(dest)))),
          mappings = List(
            FieldMapping("doc_id", "doc_id", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("text", "text", "VARCHAR2", "STRING")),
          transformation = Transformation("NONE", parameters = Map(
            "ingestIdColumn" -> "doc_id",
            "ingestTextColumn" -> "text",
            "ingestBatchId" -> batchId.toString)))
        val r0 = JobRunner.run(s, ingest(s"$work/b0", "bm25-build-0", stateV1, 0L))
        require(r0.status == JobRunner.Completed, s"bm25 build failed: ${r0.message}")
        // batch 1: same corpus distribution -> APPEND into the standing state
        val (p1, m1) = JobRunner.runDecided(s, probe(s"$work/b1", "bm25-probe-1"),
          onPass = ingest(s"$work/b1", "bm25-append-1", stateV1, 1L),
          onFail = ingest(s"$work/full", "bm25-roll-x", stateV2, 0L),
          expectedFailure = Some("VALIDATE_DRIFT: psi_micro"))
        require(p1.status == JobRunner.Completed,
          s"decider must PASS the in-distribution batch: ${p1.message}")
        require(m1.exists(r => r.status == JobRunner.Completed && r.jobId == "bm25-append-1"),
          s"append branch must run and complete: ${m1.map(r => (r.jobId, r.message))}")
        // batch 2: injected token-length drift -> REBUILD (version roll)
        val (p2, m2) = JobRunner.runDecided(s, probe(s"$work/b2", "bm25-probe-2"),
          onPass = ingest(s"$work/b2", "bm25-append-2", stateV1, 2L),
          onFail = ingest(s"$work/full", "bm25-roll-2", stateV2, 0L),
          expectedFailure = Some("VALIDATE_DRIFT: psi_micro"))
        require(p2.status != JobRunner.Completed,
          "decider must FAIL the drifted batch (every token stretched)")
        require(m2.exists(r => r.status == JobRunner.Completed && r.jobId == "bm25-roll-2"),
          s"rebuild branch must run and complete: ${m2.map(r => (r.jobId, r.message))}")
        // the rolled index serves the full corpus (original + drifted)
        TextQueries.bm25IngestTopK(s, stateV2,
          Seq("spark", "merge", "window"), 10)
      },
      Some("""WITH corpus AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 2
             |  UNION ALL
             |  SELECT doc_id + 1000000, replace(text, ' ', 'xx ')
             |  FROM documents WHERE doc_id % 3 = 2),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT token,
             |          CAST(round(ln(2.0 * (s.nd + 1) / (df.df * 2 + 1)) * 1000) AS BIGINT) AS idf_pm
             |        FROM df CROSS JOIN stats s),
             |sc AS (SELECT tf.doc_id,
             |         (idf.idf_pm * 22000 * tf.tf * 1000)
             |           // (10000 * tf.tf + 3000 + 9 * ((1000 * d.dl * s.nd) // s.l)) AS contrib
             |       FROM tf JOIN idf USING (token) JOIN d USING (doc_id) CROSS JOIN stats s)
             |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro
             |FROM sc GROUP BY 1
             |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- MAINTAINED PRECISION-LADDER RUNGS from the config surface
    //      (r19 — the "one ingest maintains every rung" form the r18
    //      verdict named): INGEST_ANN_DESTINATION with
    //      annRungs=bits,sq8,prefix32 writes the packed-sign-bits /
    //      int8 / prefix projections as state siblings of vectors/ on
    //      the same batch=<id> exactly-once protocol (batch-sized
    //      map-side appends — the projections are per-row
    //      deterministic, so the union over committed batches equals
    //      the one-shot projection of the whole corpus). Fixture:
    //      build + two appends as three JOBS, then serve Hamming
    //      top-10 for a 3-probe batch DIRECTLY off the maintained
    //      bits/ state — packing and bit_count(xor) replay in SQL, so
    //      the maintained-state serving path is a REAL DuckDB oracle
    //      row (the spec additionally pins the sq8/prefix rungs
    //      row-identical to one-shot projections). ----
    Q("etl_ann_rung_serving",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_ann_rungs_").toString
        val destDir = s"$work/index"
        val emb = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"),
            col("embedding").cast(
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.DoubleType)).as("e"))
        (0 to 2).foreach(i =>
          emb.filter(col("vec_id") % 3 === i).write.parquet(s"$work/b$i"))
        def job(src: String, id: String, batchId: Long, mode: String) = JobConfig(
          jobId = id, steps = List("INGEST_ANN_DESTINATION"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = Nil,
          transformation = Transformation("NONE", parameters = Map(
            "ingestIdColumn" -> "vec_id",
            "ingestVectorColumn" -> "e",
            "ingestBatchId" -> batchId.toString,
            "annNLists" -> "16",
            "annMode" -> mode,
            "annRungs" -> "bits,sq8,prefix32")))
        val modes = Seq("rebuild", "append", "append")
        (0 to 2).foreach { i =>
          val r = JobRunner.run(s, job(s"$work/b$i", s"ann-rungs-$i", i.toLong, modes(i)))
          require(r.status == JobRunner.Completed, s"rung ingest $i failed: ${r.message}")
        }
        val packed = graft.streaming.EventStreams.batchStateRead(s, s"$destDir/bits")
        val probes = packed.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"),
            col("lo").as("plo"), col("hi").as("phi"))
        graft.operators.Similarity
          .hammingBatchTopK(packed, probes, k = 10, excludeSelf = true)
          .orderBy("probe_id", "rk")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |bits AS (SELECT vec_id, p.p AS p, (v[p.p + 1] > 0) AS b
             |         FROM e, (SELECT unnest(range(0, 64)) AS p) p),
             |packed AS (SELECT vec_id,
             |    SUM(CASE WHEN b AND p < 32 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS lo,
             |    SUM(CASE WHEN b AND p >= 32 THEN (CAST(1 AS BIGINT) << CAST(p - 32 AS INT)) ELSE 0 END) AS hi
             |  FROM bits GROUP BY 1),
             |probes AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi
             |           FROM packed WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, k.vec_id,
             |        CAST(bit_count(xor(k.lo, p.plo)) + bit_count(xor(k.hi, p.phi)) AS BIGINT) AS hamming
             |      FROM packed k, probes p WHERE k.vec_id <> p.probe_id),
             |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY hamming, vec_id) AS INTEGER) AS rk FROM d)
             |SELECT probe_id, vec_id, hamming, rk FROM r WHERE rk <= 10
             |ORDER BY probe_id, rk""".stripMargin)),

    Q("etl_merge_strategy",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_merge_gate_").toString
        val destDir = s"$work/dest"
        def job(src: String, id: String) = JobConfig(
          jobId = id,
          steps = List("MERGE_STRATEGY"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("o_orderkey", "o_orderkey", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("o_custkey", "o_custkey", "NUMBER", "LONG"),
            FieldMapping("o_totalprice", "o_totalprice", "NUMBER", "DOUBLE"),
            FieldMapping("updated_at", "updated_at", "NUMBER", "LONG")),
          transformation = Transformation("NONE", parameters = Map(
            "mergeStrategy" -> "KEEP_LATEST",
            "mergeKeys" -> "o_orderkey",
            "versionColumn" -> "updated_at")))
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("updated_at", lit(1L))
        base.write.parquet(s"$work/batch1")
        base.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("updated_at", lit(2L))
          .write.parquet(s"$work/batch2")
        val r1 = JobRunner.run(s, job(s"$work/batch1", "merge-gate-1"))
        val r2 = JobRunner.run(s, job(s"$work/batch2", "merge-gate-2"))
        (r1.status, r2.status) match {
          case (JobRunner.Completed, JobRunner.Completed) => ()
          case other => throw new IllegalStateException(s"merge jobs failed: $other")
        }
        s.read.parquet(destDir).orderBy("o_orderkey")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
             |                     CAST(1 AS BIGINT) AS updated_at FROM orders),
             |upd AS (SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
             |               CAST(2 AS BIGINT) AS updated_at FROM orders WHERE o_orderkey % 10 = 0),
             |tagged AS (SELECT *, 0 AS _src FROM base UNION ALL SELECT *, 1 AS _src FROM upd),
             |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
             |                     ORDER BY updated_at DESC, _src DESC) AS rn FROM tagged)
             |SELECT o_orderkey, o_custkey, o_totalprice, updated_at
             |FROM ranked WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),

    // ---- SCD2 through the SAME config-driven MERGE_STRATEGY path:
    //      job 1 loads the customer dimension (open validity rows),
    //      job 2 merges a re-segmented update batch for every 7th key
    //      — the step must close the current rows at the update's
    //      valid_from and append the new open rows. Oracle mirrors
    //      etl_scd2_history's rewrite; green means the history
    //      semantics survive the full config → job → swap path. ----
    Q("etl_merge_scd2",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_scd2_gate_").toString
        val destDir = s"$work/dest"
        def job(src: String, id: String) = JobConfig(
          jobId = id,
          steps = List("MERGE_STRATEGY"),
          source = SourceConfig("PARQUET", ConnectionDetails(path = Some(src))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("c_custkey", "c_custkey", "NUMBER", "LONG", isDestNullable = false),
            FieldMapping("segment", "segment", "VARCHAR2", "STRING"),
            FieldMapping("valid_from", "valid_from", "DATE", "TIMESTAMP"),
            FieldMapping("valid_to", "valid_to", "DATE", "TIMESTAMP")),
          transformation = Transformation("NONE", parameters = Map(
            "mergeStrategy" -> "SCD2", "mergeKeys" -> "c_custkey")))
        val ts0 = lit("1990-01-01").cast(org.apache.spark.sql.types.TimestampType)
        val ts1 = lit("2000-06-15").cast(org.apache.spark.sql.types.TimestampType)
        Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
          .withColumn("valid_from", ts0)
          .withColumn("valid_to", lit(null).cast(org.apache.spark.sql.types.TimestampType))
          .write.parquet(s"$work/dim")
        Tables.t(s, dir, "customer")
          .filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), concat(lit("NEW-"), col("c_mktsegment")).as("segment"))
          .withColumn("valid_from", ts1)
          .withColumn("valid_to", lit(null).cast(org.apache.spark.sql.types.TimestampType))
          .write.parquet(s"$work/upd")
        val r1 = JobRunner.run(s, job(s"$work/dim", "scd2-gate-1"))
        val r2 = JobRunner.run(s, job(s"$work/upd", "scd2-gate-2"))
        (r1.status, r2.status) match {
          case (JobRunner.Completed, JobRunner.Completed) => ()
          case other => throw new IllegalStateException(s"scd2 jobs failed: $other")
        }
        s.read.parquet(destDir).orderBy("c_custkey", "valid_from")
      },
      Some("""WITH dim AS (SELECT c_custkey, c_mktsegment AS segment,
             |                    TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             |                    CAST(NULL AS TIMESTAMP) AS valid_to FROM customer),
             |upd AS (SELECT c_custkey, 'NEW-' || c_mktsegment AS segment,
             |               TIMESTAMP '2000-06-15 00:00:00' AS valid_from
             |        FROM customer WHERE c_custkey % 7 = 0),
             |closed AS (SELECT d.c_custkey, d.segment, d.valid_from,
             |                  CASE WHEN d.valid_to IS NULL AND u.c_custkey IS NOT NULL
             |                       THEN TIMESTAMP '2000-06-15 00:00:00' ELSE d.valid_to END AS valid_to
             |           FROM dim d LEFT JOIN (SELECT DISTINCT c_custkey FROM upd) u
             |           ON d.c_custkey = u.c_custkey)
             |SELECT * FROM (
             |  SELECT c_custkey, segment, valid_from, valid_to FROM closed
             |  UNION ALL
             |  SELECT c_custkey, segment, valid_from, CAST(NULL AS TIMESTAMP) AS valid_to FROM upd)
             |ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- schema drift across load batches: batch 1 predates the
    //      price column, batch 2 carries it; a mergeSchema read of
    //      the shared directory must produce the union schema with
    //      NULLs where the old files have no column — the daily
    //      reality of a long-lived landing directory. The read goes
    //      through the config surface (ConnectionDetails.mergeSchema
    //      -> Readers), not a raw spark.read. ----
    Q("etl_schema_evolution",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_evolve_gate_").toString
        val orders = Tables.t(s, dir, "orders")
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"))
          .write.mode("append").parquet(s"$work/landing")
        orders.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice").cast("double").as("o_totalprice"))
          .write.mode("append").parquet(s"$work/landing")
        Readers.forConfig(s,
            SourceConfig("PARQUET", ConnectionDetails(
              path = Some(s"$work/landing"), mergeSchema = Some(true))), Nil)
          .select(col("o_orderkey").as("order_id"), col("o_custkey").as("cust_id"),
            col("o_totalprice").as("total"))
          .orderBy("order_id")
      },
      Some("""SELECT o_orderkey AS order_id, o_custkey AS cust_id,
             |CASE WHEN o_orderkey % 2 = 1 THEN CAST(o_totalprice AS DOUBLE) END AS total
             |FROM orders ORDER BY order_id""".stripMargin)),

    // ---- lake maintenance on the gate: a 48-file fragmented copy
    //      of orders is compacted into ~4 range-clustered files via
    //      the crash-safe rename-aside swap (Maintenance.compact);
    //      the read-back must be exactly the original rows — the
    //      oracle is the original table. The require pins that the
    //      rewrite actually reduced the file count, so a silent
    //      no-op can never stay green. ----
    Q("etl_compact_roundtrip",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_compact_gate_").toString
        val frag = s"$work/orders"
        Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(48).write.parquet(frag)
        val fs = new org.apache.hadoop.fs.Path(frag)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val bytes = Maintenance.dataFiles(fs, new org.apache.hadoop.fs.Path(frag))
          .map(_.getLen).sum
        val stats = Maintenance.compact(s, frag,
          targetFileBytes = (bytes + 3) / 4, sortCols = Seq("o_orderkey"))
        require(stats.filesAfter < stats.filesBefore,
          s"compaction did not reduce file count: $stats")
        s.read.parquet(frag)
          .select(col("o_orderkey").as("order_id"), col("o_custkey").as("cust_id"),
            col("o_totalprice").cast("double").as("total"))
          .orderBy("order_id")
      },
      Some("""SELECT o_orderkey AS order_id, o_custkey AS cust_id,
             |CAST(o_totalprice AS DOUBLE) AS total FROM orders
             |ORDER BY order_id""".stripMargin)),

    // ---- hive-partitioned write + partition-pruned read on the
    //      gate: orders lands partitioned by o_orderpriority (the
    //      layout every time/priority-keyed 100 TB table uses), and
    //      the query's equality predicate prunes to ONE partition
    //      directory at PLANNING time — no task ever opens the other
    //      four-fifths of the data. PlanSpec asserts the executed
    //      scan's PartitionFilters + selected-partition count; this
    //      row pins that the pruned read returns exactly the
    //      full-table oracle's filtered result. The fixture is cached
    //      per corpus fingerprint (stage + rename, same protocol as
    //      the media fixture). ----
    Q("etl_partition_pruning",
      (s, dir) => {
        s.read.parquet(partitionedOrdersFixture(s, dir))
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("total"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus, COUNT(*) AS n,
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
             |FROM orders WHERE o_orderpriority = '1-URGENT'
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- idempotent PARTITION BACKFILL (dynamic partition
    //      overwrite): a priority-partitioned copy of orders gets a
    //      corrected batch for TWO priorities (prices doubled);
    //      Writers.backfillPartitions must replace exactly those two
    //      hive partitions and leave the other three byte-untouched —
    //      the re-run primitive of a date-partitioned lake table.
    //      The oracle states the end state as a CASE over the
    //      original table, so both the overwrite (doubled rows
    //      present once, not appended) and the isolation (untouched
    //      priorities keep original prices) are ON the gate. ----
    Q("etl_partition_backfill",
      (s, dir) => {
        val fp = Tables.fingerprint(s, s"$dir/orders.parquet")
        val path = graft.sinks.Commit.publishIfAbsent(s, s"${CacheDirs.root}/fix_backfill_orders_$fp") { tmp =>
          val base = Tables.t(s, dir, "orders")
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderstatus"), col("o_orderpriority"))
          base.write.partitionBy("o_orderpriority").parquet(tmp)
          graft.sinks.Writers.backfillPartitions(
            base.filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
              .withColumn("o_totalprice", col("o_totalprice") * 2),
            tmp, Seq("o_orderpriority"))
        }
        s.read.parquet(path)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '3-MEDIUM')
             |    THEN CAST(round(o_totalprice * 2 * 100) AS BIGINT)
             |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS sum_cents
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- change-data capture between two loads: every 11th key is
    //      new (INSERT), every 7th gone (DELETE), every 5th surviving
    //      key has a bumped amount (UPDATE), the rest UNCHANGED — one
    //      null-safe full outer join on the key, classified where the
    //      join ran. Oracle replays the same FULL JOIN + CASE. ----
    Q("etl_snapshot_diff",
      (s, dir) => {
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey").as("order_id"),
            round(col("o_totalprice") * 100).cast("long").as("amount_cents"))
        val oldSnap = base.filter(col("order_id") % 11 =!= 0)
        val newSnap = base.filter(col("order_id") % 7 =!= 0)
          .withColumn("amount_cents",
            when(col("order_id") % 5 === 0, col("amount_cents") + 1000L)
              .otherwise(col("amount_cents")))
        graft.operators.Upsert.snapshotDiff(oldSnap, newSnap, Seq("order_id"))
          .orderBy("order_id")
      },
      Some("""WITH base AS (SELECT o_orderkey AS order_id,
             |  CAST(round(o_totalprice * 100) AS BIGINT) AS amount_cents FROM orders),
             |o AS (SELECT * FROM base WHERE order_id % 11 != 0),
             |n AS (SELECT order_id,
             |  CASE WHEN order_id % 5 = 0 THEN amount_cents + 1000
             |       ELSE amount_cents END AS amount_cents
             |  FROM base WHERE order_id % 7 != 0)
             |SELECT COALESCE(n.order_id, o.order_id) AS order_id,
             |  CASE WHEN o.order_id IS NULL THEN 'INSERT'
             |       WHEN n.order_id IS NULL THEN 'DELETE'
             |       WHEN o.amount_cents = n.amount_cents THEN 'UNCHANGED'
             |       ELSE 'UPDATE' END AS change_type
             |FROM o FULL JOIN n ON o.order_id = n.order_id
             |ORDER BY order_id""".stripMargin)),

    // ---- Z-order (Morton) values on the gate: the multi-column
    //      data-skipping layout key (bit b of column i -> position
    //      b*n+i), built from codegen'd shift/and expressions. The
    //      oracle replays the identical bit arithmetic term by term,
    //      so every interleaved bit of every row is pinned. ----
    Q("layout_zorder",
      (s, dir) => Tables.t(s, dir, "orders")
        .select(col("o_orderkey").as("order_id"),
          (col("o_custkey") % 1024).as("qx"),
          (col("o_orderkey") % 1024).as("qy"))
        .withColumn("zv", Maintenance.zValue(Seq(col("qx"), col("qy")), bits = 10))
        .orderBy("order_id"),
      Some {
        val terms = (for {
          (cn, ci) <- Seq("qx", "qy").zipWithIndex
          b <- 0 until 10
        } yield s"((($cn >> $b) & 1) << ${b * 2 + ci})").mkString(" + ")
        s"""WITH q AS (SELECT o_orderkey AS order_id,
           |  o_custkey % 1024 AS qx, o_orderkey % 1024 AS qy FROM orders)
           |SELECT order_id, qx, qy, CAST($terms AS BIGINT) AS zv
           |FROM q ORDER BY order_id""".stripMargin
      }),

    // ---- Hilbert curve indices on the gate: the space-filling
    //      layout key with strictly better locality than Morton
    //      order (every curve step is a unit move — no quadrant
    //      jumps splitting a range across distant files). Spark runs
    //      the xy2d bit-descent as ONE higher-order aggregate with a
    //      (x, y, d) struct accumulator; the oracle unrolls the
    //      identical descent level by level, so every curve index of
    //      every row is pinned bit for bit. ----
    Q("layout_hilbert",
      (s, dir) => Tables.t(s, dir, "orders")
        .select(col("o_orderkey").as("order_id"),
          (col("o_custkey") % 256).as("qx"),
          (col("o_orderkey") % 256).as("qy"))
        .withColumn("hv", Maintenance.hilbertValue(col("qx"), col("qy"), bits = 8))
        .orderBy("order_id"),
      Some {
        val b = 8; val top = (1 << b) - 1
        val steps = (1 to b).map { i =>
          val sLvl = 1 << (b - i); val p = i - 1
          s"""q$i AS (SELECT order_id, qx, qy,
             |  CASE WHEN (y$p & $sLvl) > 0 THEN x$p WHEN (x$p & $sLvl) > 0 THEN $top - y$p ELSE y$p END AS x$i,
             |  CASE WHEN (y$p & $sLvl) > 0 THEN y$p WHEN (x$p & $sLvl) > 0 THEN $top - x$p ELSE x$p END AS y$i,
             |  d$p + ${sLvl.toLong * sLvl} * (CASE WHEN (y$p & $sLvl) > 0 THEN CASE WHEN (x$p & $sLvl) > 0 THEN 2 ELSE 1 END
             |                  ELSE CASE WHEN (x$p & $sLvl) > 0 THEN 3 ELSE 0 END END) AS d$i
             |  FROM q$p)""".stripMargin
        }.mkString(",\n")
        s"""WITH q AS (SELECT o_orderkey AS order_id, o_custkey % 256 AS qx,
           |  o_orderkey % 256 AS qy FROM orders),
           |q0 AS (SELECT order_id, qx, qy, CAST(qx AS BIGINT) AS x0,
           |  CAST(qy AS BIGINT) AS y0, CAST(0 AS BIGINT) AS d0 FROM q),
           |$steps
           |SELECT order_id, qx, qy, d$b AS hv FROM q$b ORDER BY order_id""".stripMargin
      }),

    // ---- manifest-driven data skipping (zone maps) on the gate:
    //      lineitem is Z-order-clustered into 16 files, a per-file
    //      min/max manifest is computed in one scan, and the range
    //      query reads ONLY the files whose stats admit the range —
    //      the require() makes a silent no-skip fail loudly, so green
    //      means file-level skipping actually happened AND the result
    //      equals the full-scan oracle (skipping can only drop files
    //      whose whole range misses). This is the scan-side payoff of
    //      the clustering layouts (compact(sortCols) / zOrdered): at
    //      100 TB the manifest is the table format's metadata and the
    //      pruned read is every range query's entry path. ----
    Q("layout_stats_skipping",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_skip_gate_").toString
        val laid = s"$work/li_clustered"
        Maintenance.zOrderedAuto(
            Tables.t(s, dir, "lineitem")
              .select("l_orderkey", "l_partkey", "l_quantity"),
            Seq("l_orderkey", "l_partkey"), nOut = 16, bits = 12)
          .write.parquet(laid)
        val fs = new org.apache.hadoop.fs.Path(laid)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val totalFiles = Maintenance.dataFiles(fs, new org.apache.hadoop.fs.Path(laid)).size
        val manifest = Maintenance.statsManifest(s.read.parquet(laid), Seq("l_partkey"))
        val paths = Maintenance.prunedPaths(manifest, "l_partkey", lit(1), lit(50))
        require(paths.nonEmpty && paths.size < totalFiles,
          s"manifest skipping had no effect: reading ${paths.size} of $totalFiles files")
        s.read.parquet(paths: _*)
          .filter(col("l_partkey").between(1, 50))
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sum_qty"))
          .orderBy("l_partkey")
      },
      Some("""SELECT l_partkey, COUNT(*) AS n,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem WHERE l_partkey BETWEEN 1 AND 50
             |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin)),

    // ---- per-file BLOOM manifest skipping on the gate: documents
    //      are hash-scattered across 16 files (every file's doc_id
    //      min/max spans the whole domain — zone maps provably skip
    //      NOTHING on this layout), yet the point lookup reads only
    //      the files whose Bloom filter fires for one of the probe
    //      keys. The require() proves a real file-level skip
    //      happened on a layout where min/max skipping is
    //      structurally blind — the equality-predicate complement of
    //      layout_stats_skipping, and at 100 TB the difference
    //      between a point lookup touching ~k files and touching
    //      every file of an unclustered table. ----
    Q("layout_bloom_skipping",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_bloom_gate_").toString
        val laid = s"$work/docs_hashed"
        val probes: Seq[Any] = Seq(7L, 42L, 99L)
        Tables.t(s, dir, "documents")
          .select("doc_id", "lang", "n_chars")
          .repartition(16, col("doc_id"))
          .write.parquet(laid)
        val fs = new org.apache.hadoop.fs.Path(laid)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val totalFiles = Maintenance.dataFiles(fs, new org.apache.hadoop.fs.Path(laid)).size
        val manifest = Maintenance.bloomManifest(s.read.parquet(laid), "doc_id")
        val paths = Maintenance.bloomPrunedPaths(manifest, "doc_id", probes)
        require(paths.nonEmpty && paths.size < totalFiles,
          s"bloom skipping had no effect: reading ${paths.size} of $totalFiles files")
        Maintenance.bloomSkippingRead(s, laid, manifest, "doc_id", probes)
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, n_chars FROM documents
             |WHERE doc_id IN (7, 42, 99) ORDER BY doc_id""".stripMargin)),

    // ---- incremental upsert (SCD-1 keep-latest): every 10th order
    //      gets a newer-versioned update with a bumped price; the
    //      merge must keep updates for those keys and existing rows
    //      for the rest. ----
    Q("etl_upsert_keep_latest",
      (s, dir) => {
        val base = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .withColumn("updated_at", lit(1L))
        val updates = base.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
          .withColumn("updated_at", lit(2L))
        graft.operators.Upsert
          .keepLatest(base, updates, Seq("o_orderkey"), "updated_at")
          .orderBy("o_orderkey")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
             |                     CAST(1 AS BIGINT) AS updated_at FROM orders),
             |upd AS (SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
             |               CAST(2 AS BIGINT) AS updated_at FROM orders WHERE o_orderkey % 10 = 0),
             |tagged AS (SELECT *, 0 AS _src FROM base UNION ALL SELECT *, 1 AS _src FROM upd),
             |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
             |                     ORDER BY updated_at DESC, _src DESC) AS rn FROM tagged)
             |SELECT o_orderkey, o_custkey, o_totalprice, updated_at
             |FROM ranked WHERE rn = 1 ORDER BY o_orderkey""".stripMargin)),

    // ---- CDC apply: an insert/update/delete ops log collapses to
    //      final table state — latest sequence number wins per key,
    //      deletes drop the key. One window pass over the log (the
    //      log, not the table, is the input at scale — this is the
    //      change-stream compaction every CDC sink performs). The
    //      updated price multiplies in DECIMAL (a 1.1 double literal
    //      would round differently than DuckDB's exact decimal). ----
    Q("etl_cdc_apply",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        val ins = o.select(col("o_orderkey"),
          col("o_totalprice").as("price"), col("o_orderstatus"),
          lit(1).as("seq"), lit("I").as("op"))
        val upd = o.filter(col("o_orderkey") % 4 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2)) *
              lit(new java.math.BigDecimal("1.1"))).cast("double").as("price"),
            col("o_orderstatus"), lit(2).as("seq"), lit("U").as("op"))
        val del = o.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("price"),
            col("o_orderstatus"), lit(3).as("seq"), lit("D").as("op"))
        val log = ins.unionByName(upd).unionByName(del)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderkey").orderBy(desc("seq"))
        log.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1 && col("op") =!= "D")
          .select("o_orderkey", "price", "o_orderstatus")
          .orderBy("o_orderkey")
      },
      Some("""WITH log AS (
             |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
             |         o_orderstatus, 1 AS seq, 'I' AS op FROM orders
             |  UNION ALL
             |  SELECT o_orderkey,
             |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE),
             |         o_orderstatus, 2, 'U' FROM orders WHERE o_orderkey % 4 = 0
             |  UNION ALL
             |  SELECT o_orderkey, CAST(o_totalprice AS DOUBLE), o_orderstatus, 3, 'D'
             |  FROM orders WHERE o_orderkey % 10 = 0),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
             |      FROM log)
             |SELECT o_orderkey, price, o_orderstatus FROM r
             |WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin)),

    // ---- CDC incremental apply: a delete-carrying change batch
    //      folds into an EXISTING keyed destination (the other half
    //      of the CDC story — etl_cdc_apply above compacts a log
    //      from scratch; this one converges yesterday's table). The
    //      destination is the keep-latest state of the even-id half
    //      of the events feed; the odd half arrives as changes where
    //      'error' events are tombstones. Because max(version) per
    //      key is split-independent, the composed result equals one
    //      keep-latest over the WHOLE feed with the winner's
    //      tombstone dropping the key — which is what the oracle
    //      states (Upsert.applyCdc: one keyed shuffle, no per-row
    //      lookups; replays idempotent). ----
    Q("etl_cdc_incremental",
      (s, dir) => {
        val ev = Tables.t(s, dir, "events")
          .select("user_id", "event_id", "event_type", "value")
        val evens = ev.filter(col("event_id") % 2 === 0)
        val existing = graft.operators.Upsert.keepLatest(
          evens, evens.filter(lit(false)), Seq("user_id"), "event_id")
        val changes = ev.filter(col("event_id") % 2 === 1)
          .withColumn("op",
            when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
        graft.operators.Upsert
          .applyCdc(existing, changes, Seq("user_id"), "event_id", "op")
          .orderBy("user_id")
      },
      Some("""WITH ranked AS (
             |  SELECT user_id, event_id, event_type, value,
             |    CASE WHEN event_id % 2 = 1 AND event_type = 'error'
             |         THEN 'D' ELSE 'U' END AS op,
             |    ROW_NUMBER() OVER (PARTITION BY user_id
             |                       ORDER BY event_id DESC) AS rn
             |  FROM events)
             |SELECT user_id, event_id, event_type, value FROM ranked
             |WHERE rn = 1 AND op = 'U' ORDER BY user_id""".stripMargin)),

    // ---- SCD-2 history merge: every 7th customer gets a re-segmented
    //      update; its current row must close at the update timestamp
    //      and a new open row appear, history/untouched rows intact. ----
    Q("etl_scd2_history",
      (s, dir) => {
        val ts0 = lit("1990-01-01").cast(org.apache.spark.sql.types.TimestampType)
        val ts1 = lit("2000-06-15").cast(org.apache.spark.sql.types.TimestampType)
        val dim = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
          .withColumn("valid_from", ts0)
          .withColumn("valid_to", lit(null).cast(org.apache.spark.sql.types.TimestampType))
        val upd = Tables.t(s, dir, "customer")
          .filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), concat(lit("NEW-"), col("c_mktsegment")).as("segment"))
          .withColumn("valid_from", ts1)
        graft.operators.Upsert.scd2Apply(dim, upd, Seq("c_custkey"))
          .orderBy("c_custkey", "valid_from")
      },
      Some("""WITH dim AS (SELECT c_custkey, c_mktsegment AS segment,
             |                    TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
             |                    CAST(NULL AS TIMESTAMP) AS valid_to FROM customer),
             |upd AS (SELECT c_custkey, 'NEW-' || c_mktsegment AS segment,
             |               TIMESTAMP '2000-06-15 00:00:00' AS valid_from
             |        FROM customer WHERE c_custkey % 7 = 0),
             |closed AS (SELECT d.c_custkey, d.segment, d.valid_from,
             |                  CASE WHEN d.valid_to IS NULL AND u.c_custkey IS NOT NULL
             |                       THEN TIMESTAMP '2000-06-15 00:00:00' ELSE d.valid_to END AS valid_to
             |           FROM dim d LEFT JOIN (SELECT DISTINCT c_custkey FROM upd) u
             |           ON d.c_custkey = u.c_custkey)
             |SELECT * FROM (
             |  SELECT c_custkey, segment, valid_from, valid_to FROM closed
             |  UNION ALL
             |  SELECT c_custkey, segment, valid_from, CAST(NULL AS TIMESTAMP) AS valid_to FROM upd)
             |ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- ANONYMIZE_DESTINATION on the hard gate: a destination
    //      seeded with synthetic PII (email + phone + long id per
    //      row) is rewritten in place by the job step through the
    //      standard scrub chain and read back; the oracle replays
    //      the same regex chain (patterns stay in the Java∩RE2
    //      subset, which pii_scrub already pins). ----
    Q("etl_anonymize_destination",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_anon_gate_").toString
        val destDir = s"$work/dest"
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or 555-"),
              lpad(expr("doc_id % 10000").cast("string"), 4, "0"),
              lit("-1234 ref "),
              (col("doc_id") * 1000003L + 7111111L).cast("string")).as("body"))
          .write.parquet(destDir)
        val cfg = JobConfig(
          jobId = "anon-gate-1",
          steps = List("ANONYMIZE_DESTINATION"),
          source = SourceConfig("PARQUET",
            ConnectionDetails(path = Some(destDir))),
          destination = Some(DestinationConfig("PARQUET",
            ConnectionDetails(path = Some(destDir)))),
          mappings = List(
            FieldMapping("doc_id", "doc_id", "NUMBER", "LONG", isDestNullable = false)),
          transformation = Transformation("NONE", parameters = Map(
            "scrubColumns" -> "body")))
        val r = JobRunner.run(s, cfg)
        require(r.status == JobRunner.Completed, s"anonymize job failed: ${r.message}")
        s.read.parquet(destDir).orderBy("doc_id")
      },
      Some("""WITH r AS (SELECT doc_id,
             |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
             |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234 ref ' ||
             |  CAST(doc_id * 1000003 + 7111111 AS VARCHAR) AS body FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(body,
             |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
             |    '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '[PHONE]', 'g'),
             |    '\b\d{6,}\b', '[ID]', 'g') AS body
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- SCD2 POINT-IN-TIME read (the consumer side of the history
    //      the scd2 row builds): "what did every dimension row look
    //      like at T?" — valid_from <= T < coalesce(valid_to, ∞).
    //      Probed at a T between the two generations, so updated
    //      keys must surface their ORIGINAL segment while the
    //      current table would show NEW- — the exact bug a naive
    //      latest-read introduces into backtests. One filter over
    //      the history; at 100 TB the history partitions by
    //      valid_from range so a PIT read prunes to the generations
    //      alive at T. ----
    Q("etl_scd2_point_in_time",
      (s, dir) => {
        val ts0 = lit("1990-01-01").cast(org.apache.spark.sql.types.TimestampType)
        val ts1 = lit("2000-06-15").cast(org.apache.spark.sql.types.TimestampType)
        val dim = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
          .withColumn("valid_from", ts0)
          .withColumn("valid_to", lit(null).cast(org.apache.spark.sql.types.TimestampType))
        val upd = Tables.t(s, dir, "customer")
          .filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), concat(lit("NEW-"), col("c_mktsegment")).as("segment"))
          .withColumn("valid_from", ts1)
        val hist = graft.operators.Upsert.scd2Apply(dim, upd, Seq("c_custkey"))
        val at = lit("1995-01-01").cast(org.apache.spark.sql.types.TimestampType)
        hist.filter(col("valid_from") <= at &&
            (col("valid_to").isNull || col("valid_to") > at))
          .select("c_custkey", "segment", "valid_from")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment AS segment,
             |  TIMESTAMP '1990-01-01 00:00:00' AS valid_from
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    // ---- CALENDAR-SPINE GAP FILL: a generated date dimension from
    //      the data's own min/max span, left-joined to per-day order
    //      counts so EMPTY DAYS SURFACE AS ZEROS — the gap-filling
    //      shape every time-series report needs (a groupBy alone
    //      silently drops absent days, which downstream
    //      moving-averages then misread). The spine comes from ONE
    //      sequence() over the two-scalar span aggregate — no
    //      driver-side date loop; the join is day-keyed. ----
    Q("etl_calendar_dim",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val span = o.agg(min(col("o_orderdate")).cast("date").as("lo"),
          max(col("o_orderdate")).cast("date").as("hi"))
        val days = span.select(explode(
          expr("sequence(lo, hi, interval 1 day)")).as("day"))
        val per = o.groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(count(lit(1)).as("n_orders"))
        days.join(per, Seq("day"), "left_outer")
          .select(col("day"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
          .orderBy("day")
      },
      Some("""WITH span AS (SELECT MIN(o_orderdate) AS lo, MAX(o_orderdate) AS hi FROM orders),
             |days AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
             |           CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
             |per AS (SELECT CAST(o_orderdate AS DATE) AS day,
             |               CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1)
             |SELECT d.day, COALESCE(per.n, 0) AS n_orders
             |FROM days d LEFT JOIN per ON per.day = d.day
             |ORDER BY d.day""".stripMargin)),

    // ---- FEED-ORDER AUDIT: per user, how many adjacent event pairs
    //      (in event_id order) carry a REGRESSING timestamp — the
    //      data-quality check that decides whether event_id can serve
    //      as a replay/merge version. One LAG in a user-keyed window
    //      (high cardinality, scale-safe) + a combinable count. Zero
    //      inversions on this feed IS the finding — the oracle proves
    //      the engine counts the same (n_pairs pins the non-vacuous
    //      denominator). ----
    Q("etl_feed_order_audit",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("event_id")
        Tables.t(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
          .withColumn("pus", lag("us", 1).over(w))
          .groupBy("user_id")
          .agg(count(col("pus")).as("n_pairs"),
            count(when(col("us") < col("pus"), lit(1))).as("n_inversions"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |l AS (SELECT user_id, us,
             |    LAG(us) OVER (PARTITION BY user_id ORDER BY event_id) AS pus FROM e)
             |SELECT user_id, CAST(COUNT(pus) AS BIGINT) AS n_pairs,
             |  CAST(COUNT(CASE WHEN us < pus THEN 1 END) AS BIGINT) AS n_inversions
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- SCD-2 POINT-IN-TIME JOIN AT EVENT TIME: each order joins
    //      the dimension row that was valid ON ITS ORDER DATE — the
    //      as-of enrichment a history-preserving dimension exists
    //      for (etl_scd2_point_in_time reads one fixed instant; this
    //      gate reads a DIFFERENT instant per fact row). The dim is
    //      built through the real Upsert.scd2Apply path (every 7th
    //      customer re-segmented mid-history), then one equi-join on
    //      the key with the validity-interval predicate — the range
    //      rides the custkey shuffle, never a cross join. ----
    Q("etl_scd2_event_join",
      (s, dir) => {
        val ts0 = lit("1990-01-01").cast(org.apache.spark.sql.types.TimestampType)
        val ts1 = lit("1995-06-15").cast(org.apache.spark.sql.types.TimestampType)
        val dim0 = Tables.t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
          .withColumn("valid_from", ts0)
          .withColumn("valid_to", lit(null).cast(org.apache.spark.sql.types.TimestampType))
        val upd = Tables.t(s, dir, "customer")
          .filter(col("c_custkey") % 7 === 0)
          .select(col("c_custkey"), lit("RESEGMENTED").as("segment"))
          .withColumn("valid_from", ts1)
        val dim = graft.operators.Upsert.scd2Apply(dim0, upd, Seq("c_custkey"))
        val o = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate").cast(org.apache.spark.sql.types.TimestampType).as("odt"))
        o.join(dim, o("o_custkey") === dim("c_custkey") &&
            o("odt") >= dim("valid_from") &&
            (dim("valid_to").isNull || o("odt") < dim("valid_to")))
          .select(col("o_orderkey"), col("segment"))
          .orderBy("o_orderkey")
      },
      Some("""WITH dim AS (
             |  SELECT c_custkey, c_mktsegment AS segment,
             |         TIMESTAMP '1990-01-01' AS valid_from,
             |         CASE WHEN c_custkey % 7 = 0
             |              THEN TIMESTAMP '1995-06-15' END AS valid_to
             |  FROM customer
             |  UNION ALL
             |  SELECT c_custkey, 'RESEGMENTED', TIMESTAMP '1995-06-15', NULL
             |  FROM customer WHERE c_custkey % 7 = 0)
             |SELECT o.o_orderkey, d.segment
             |FROM orders o JOIN dim d ON d.c_custkey = o.o_custkey
             |  AND CAST(o.o_orderdate AS TIMESTAMP) >= d.valid_from
             |  AND (d.valid_to IS NULL OR CAST(o.o_orderdate AS TIMESTAMP) < d.valid_to)
             |ORDER BY o.o_orderkey""".stripMargin)),

    Q("etl_transform_defaults",
      (s, dir) => {
        // P5 defaults + P6 transformation rules.
        val src = Tables.t(s, dir, "customer")
          .withColumn("c_mktsegment", expr("nullif(c_mktsegment, 'BUILDING')"))
        val mappings = List(
          FieldMapping("c_custkey", "id", "NUMBER", "LONG"),
          FieldMapping("c_name", "name_up", "VARCHAR2", "STRING",
            transformationRule = Some("UPPERCASE")),
          FieldMapping("c_mktsegment", "segment", "VARCHAR2", "STRING",
            defaultValue = Some("UNKNOWN")))
        MappingOp(src, mappings).orderBy("id")
      },
      Some("""SELECT c_custkey AS id, upper(c_name) AS name_up,
             |COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'UNKNOWN') AS segment
             |FROM customer ORDER BY id""".stripMargin)),

    // ---- HEADER/DETAIL/TRAILER FILE VALIDATION — the mainframe-
    //      feed shape the reference's bank-ETL world lives on: one
    //      file carries an H record, D detail records, and a T
    //      trailer whose declared count must equal the details
    //      actually present (the transport-integrity check BEFORE
    //      any row-level validation). The gate stages such a file
    //      from orders with the trailer deliberately understated by
    //      the corrupt rows it drops, classifies records by their
    //      leading tag in one pass, and reports declared vs observed
    //      counts with the match verdict; the oracle restates the
    //      arithmetic from the source table. ----
    Q("etl_trailer_validation",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_trailer_")
        val o = Tables.t(s, dir, "orders")
        val details = o.select(concat(lit("D,"), col("o_orderkey").cast("string"),
          lit(","), col("o_totalprice").cast("string")).as("value"))
        val header = o.sparkSession.range(1)
          .select(concat(lit("H,feed_orders,"),
            lit("2024-01-01")).as("value"))
        // trailer declares only the even-keyed rows (simulating a
        // partial extract) — the validation must catch the shortfall
        val trailer = o.filter(col("o_orderkey") % 2 === 0)
          .agg(count(lit(1)).as("n"))
          .select(concat(lit("T,"), col("n").cast("string")).as("value"))
        header.unionByName(details).unionByName(trailer)
          .write.text(work.resolve("feed").toString)
        val lines = s.read.text(work.resolve("feed").toString)
          .select(col("value"), substring(col("value"), 1, 1).as("tag"))
          .checkpointed() // one read feeds both the census and the trailer parse
        val counts = lines.groupBy("tag").agg(count(lit(1)).as("n"))
        val observed = counts.filter(col("tag") === "D")
          .select(col("n").as("n_detail"))
        val declared = lines.filter(col("tag") === "T")
          .select(split(col("value"), ",").getItem(1).cast("long").as("n_declared"))
        observed.crossJoin(broadcast(declared))
          .select(col("n_detail"), col("n_declared"),
            (col("n_detail") === col("n_declared")).as("trailer_ok"))
      },
      Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_detail,
             |  CAST((SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0) AS BIGINT)
             |    AS n_declared,
             |  COUNT(*) = (SELECT COUNT(*) FROM orders WHERE o_orderkey % 2 = 0)
             |    AS trailer_ok
             |FROM orders""".stripMargin)),

    // ---- PARSER-LEVEL bad-record routing: rows whose CSV text
    //      cannot parse against the declared schema (a non-numeric
    //      price) are captured by PERMISSIVE mode's corrupt-record
    //      column instead of killing the load — the layer BELOW the
    //      null-policy/row-validation tier, which only sees rows that
    //      already parsed. The gate stages a CSV with deterministic
    //      corruption (every 7th key), reads it back through the
    //      corrupt-record channel, and routes good/bad in ONE pass
    //      (the aggregate references data columns alongside the
    //      corrupt column, which Spark requires); the oracle restates
    //      the split from the source table. ----
    Q("etl_csv_corrupt_routing",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_csv_corrupt_")
        Tables.t(s, dir, "orders")
          .select(concat_ws(",", col("o_orderkey"),
            when(col("o_orderkey") % 7 === 0, lit("BAD_PRICE"))
              .otherwise(col("o_totalprice").cast("string"))).as("value"))
          .write.text(work.resolve("landing").toString)
        s.read.schema("k LONG, price DOUBLE, _corrupt STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt")
          .csv(work.resolve("landing").toString)
          // Spark refuses a plan whose pruned columns are ONLY the
          // corrupt-record column (a downstream count() prunes to
          // exactly that) — materialize the parsed rows first, the
          // documented save-then-query discipline; at scale this is
          // the landing-parquet write the routing step does anyway
          .checkpointed()
          .groupBy(col("_corrupt").isNotNull.as("is_bad"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("_corrupt").isNull, round(col("price") * 100).cast("long")))
              .as("cents"))
          .orderBy("is_bad")
      },
      Some("""SELECT (o_orderkey % 7 = 0) AS is_bad,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CASE WHEN (o_orderkey % 7 = 0) THEN NULL
             |       ELSE CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             |  END AS cents
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- DISTRIBUTION DRIFT (PSI) between two feed eras: the
    //      population-stability index over fixed price bands,
    //      comparing orders before vs after a cutover date — the
    //      monitor that catches a silently re-scaled upstream field
    //      or a mix shift the row counts never show. Kept exact: the
    //      band axis is FIXED integer bands off floor(price/50k)
    //      CLAMPED into [0, 10) (Profile.psiBand — the one banding
    //      convention this gate shares with VALIDATE_DRIFT and the
    //      streaming monitor, so every row lands in exactly one band
    //      and band counts sum to the era totals; never
    //      data-dependent quantiles — both eras band identically and
    //      floor() makes the double→int step exact on both
    //      engines), counts get +1 smoothing so an empty
    //      band can't blow up the log, the log argument
    //      n1·(M+10) / (m1·(N+10)) is an exact integer ratio
    //      (identical IEEE before the one ln), and each band's
    //      contribution is one BIGINT floor division
    //      ((n1·(M+10) − m1·(N+10)) · lq_micro) div ((N+10)·(M+10)) —
    //      psi_micro sums exactly, and the whole rational rides
    //      DECIMAL(38,0)/HUGEINT (the diff·lq product clears 2^63
    //      past ~1e8 orders per era, the N·M divisor at ~3e9 — far
    //      below 100 TB; the log argument's count products are
    //      likewise formed factor-cast-to-double so the BIGINT
    //      products never materialize). Scale: two map-side banded
    //      counts + a 10-row spine join; facts are touched once. ----
    Q("etl_distribution_drift_psi",
      (s, dir) => {
        val banded = Tables.t(s, dir, "orders")
          .select(graft.operators.Profile.psiBand("o_totalprice", 50000, 10).as("band"),
            (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("before"))
        val n = banded.filter(col("before")).groupBy("band").agg(count(lit(1)).as("n_before"))
        val m = banded.filter(!col("before")).groupBy("band").agg(count(lit(1)).as("n_after"))
        val spine = s.range(0, 10).select(col("id").as("band"))
        val tot = banded.agg(
          sum(when(col("before"), 1L).otherwise(0L)).as("nt"),
          sum(when(col("before"), 0L).otherwise(1L)).as("mt"))
        spine.join(n, Seq("band"), "left").join(m, Seq("band"), "left")
          .select(col("band"),
            coalesce(col("n_before"), lit(0L)).as("nb"),
            coalesce(col("n_after"), lit(0L)).as("na"))
          .crossJoin(broadcast(tot))
          .withColumn("lq_micro",
            round(log(((col("nb") + 1).cast("double") * (col("mt") + 10)) /
              ((col("na") + 1).cast("double") * (col("nt") + 10))) * 1000000).cast("long"))
          .select(col("band"), col("nb").as("n_before"), col("na").as("n_after"),
            col("lq_micro"),
            expr("CAST((CAST(nb + 1 AS DECIMAL(38,0)) * (mt + 10)" +
              " - CAST(na + 1 AS DECIMAL(38,0)) * (nt + 10)) * lq_micro" +
              " div (CAST(nt + 10 AS DECIMAL(38,0)) * (mt + 10)) AS BIGINT)")
              .as("psi_contrib_micro"))
          .orderBy("band")
      },
      Some("""WITH b AS (SELECT LEAST(GREATEST(
             |      CAST(floor(o_totalprice / 50000) AS BIGINT), 0), 9) AS band,
             |    o_orderdate < TIMESTAMP '1998-01-01' AS bf FROM orders),
             |n AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS nb FROM b WHERE bf GROUP BY 1),
             |m AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS na FROM b WHERE NOT bf GROUP BY 1),
             |t AS (SELECT CAST(SUM(CASE WHEN bf THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             |             CAST(SUM(CASE WHEN bf THEN 0 ELSE 1 END) AS BIGINT) AS mt FROM b),
             |sp AS (SELECT unnest(generate_series(0, 9)) AS band),
             |g AS (SELECT sp.band, COALESCE(n.nb, 0) AS nb, COALESCE(m.na, 0) AS na
             |      FROM sp LEFT JOIN n USING (band) LEFT JOIN m USING (band))
             |SELECT CAST(band AS BIGINT) AS band, nb AS n_before, na AS n_after,
             |  CAST(round(ln(CAST(nb + 1 AS DOUBLE) * (mt + 10) /
             |                (CAST(na + 1 AS DOUBLE) * (nt + 10))) * 1000000) AS BIGINT) AS lq_micro,
             |  CAST((CAST(nb + 1 AS HUGEINT) * (mt + 10) - CAST(na + 1 AS HUGEINT) * (nt + 10)) *
             |        CAST(round(ln(CAST(nb + 1 AS DOUBLE) * (mt + 10) /
             |                      (CAST(na + 1 AS DOUBLE) * (nt + 10))) * 1000000) AS BIGINT)
             |       // (CAST(nt + 10 AS HUGEINT) * (mt + 10)) AS BIGINT) AS psi_contrib_micro
             |FROM g CROSS JOIN t ORDER BY band""".stripMargin)),

    // ---- SURROGATE-KEY MINTING (incremental dimension load): new
    //      members get DENSE surrogate keys appended after the
    //      existing dimension's max — the IDENTITY-column behavior
    //      every warehouse dimension load needs, WITHOUT a
    //      single-task global window: ranks come from the two-phase
    //      segmentedRanks machinery (sampled boundaries -> map-side
    //      bucket assignment -> bucket-local partitioned windows ->
    //      broadcast offset join), so minting a billion keys
    //      parallelizes while staying collision-free and dense. The
    //      existing era is custkey % 3 != 0 (its surrogates = its
    //      business-key ranks); the arriving batch is the % 3 == 0
    //      members. ----
    Q("etl_surrogate_keys",
      (s, dir) => {
        val c = Tables.t(s, dir, "customer").select(col("c_custkey").as("bk"))
        val existing = graft.operators.Ranking.segmentedRanks(
            c.filter(col("bk") % 3 =!= 0).withColumn("_g", lit(0)), "_g", Seq("bk"))
          .select(col("bk"), col("row_number").as("sk"))
          .checkpointed() // read twice: the output AND the max offset
        // first-ever load (empty existing era) must mint from 0, not
        // NULL every fresh key
        val maxSk = existing.agg(coalesce(max("sk"), lit(0L)).as("mx"))
        val fresh = graft.operators.Ranking.segmentedRanks(
            c.filter(col("bk") % 3 === 0).withColumn("_g", lit(0)), "_g", Seq("bk"))
          .crossJoin(broadcast(maxSk))
          .select(col("bk"), (col("row_number") + col("mx")).as("sk"))
        existing.unionByName(fresh).orderBy("sk")
      },
      Some("""WITH ex AS (SELECT c_custkey AS bk,
             |    ROW_NUMBER() OVER (ORDER BY c_custkey) AS sk
             |  FROM customer WHERE c_custkey % 3 <> 0),
             |mx AS (SELECT CAST(COALESCE(MAX(sk), 0) AS BIGINT) AS mx FROM ex),
             |nw AS (SELECT c_custkey AS bk,
             |    ROW_NUMBER() OVER (ORDER BY c_custkey) AS sk0
             |  FROM customer WHERE c_custkey % 3 = 0)
             |SELECT bk, CAST(sk AS BIGINT) AS sk FROM ex
             |UNION ALL SELECT bk, CAST(sk0 + mx AS BIGINT) AS sk FROM nw CROSS JOIN mx
             |ORDER BY sk""".stripMargin)),

    // ---- MERGE AUDIT COUNTS: the inserted / updated / unchanged
    //      tally every MERGE INTO emits in a warehouse — the number
    //      an operator reads to catch a feed that suddenly updates
    //      everything (a key-mapping bug) or inserts nothing (a
    //      stalled upstream). Destination = the odd-key orders era;
    //      batch = even keys with a bumped version. Classification is
    //      ONE full-outer key join of two key-grain projections (the
    //      merge itself already pays this join — the audit is free);
    //      counts are a 3-key aggregate. ----
    Q("etl_merge_audit",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
        val dest = o.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").as("k"), lit(1L).as("ver"))
        val batch = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"), lit(2L).as("bver"))
        dest.join(batch, Seq("k"), "full_outer")
          .select(
            when(col("ver").isNull, "inserted")
              .when(col("bver").isNull, "unchanged")
              .otherwise("updated").as("op"))
          .groupBy("op").agg(count(lit(1)).as("n"))
          .orderBy("op")
      },
      Some("""WITH dest AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 3 <> 0),
             |batch AS (SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 2 = 0),
             |j AS (SELECT CASE WHEN dest.k IS NULL THEN 'inserted'
             |                  WHEN batch.k IS NULL THEN 'unchanged'
             |                  ELSE 'updated' END AS op
             |      FROM dest FULL OUTER JOIN batch USING (k))
             |SELECT op, CAST(COUNT(*) AS BIGINT) AS n
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- SCD TYPE 3 (previous-value column): per part, the current
    //      price AND the one it replaced — the "what changed and from
    //      what" dimension shape between SCD1's overwrite and SCD2's
    //      full history, completing the SCD family (1: keepLatest,
    //      2: scd2Apply, 3: here). Current = one struct-max keyed
    //      aggregate over the (shipdate, orderkey, linenumber)
    //      version order; previous = a second struct-max over rows
    //      STRICTLY below the current, with the current joined back
    //      on the SAME key the first aggregate shuffled on (exchange
    //      reuse — the part dimension never redistributes). ----
    Q("etl_scd3_prev_value",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
          .select(col("l_partkey").as("part"),
            struct(unix_date(col("l_shipdate").cast("date")).cast("long").as("d"),
              col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
              round(col("l_extendedprice") * 100).cast("long").as("cents")).as("v"))
        val cur = li.groupBy("part").agg(max("v").as("cv"))
        val prev = li.join(cur, Seq("part"))
          .filter(col("v") < col("cv"))
          .groupBy("part").agg(max("v").as("pv"))
        cur.join(prev, Seq("part"), "left")
          .select(col("part"),
            col("cv.cents").as("cur_cents"),
            col("pv.cents").as("prev_cents"))
          .orderBy("part")
      },
      Some("""WITH li AS (SELECT l_partkey AS part,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             |    ROW_NUMBER() OVER (PARTITION BY l_partkey
             |      ORDER BY CAST(l_shipdate AS DATE) DESC, l_orderkey DESC, l_linenumber DESC) AS rn
             |  FROM lineitem)
             |SELECT cur.part, cur.cents AS cur_cents, prev.cents AS prev_cents
             |FROM (SELECT part, cents FROM li WHERE rn = 1) cur
             |LEFT JOIN (SELECT part, cents FROM li WHERE rn = 2) prev USING (part)
             |ORDER BY part""".stripMargin)),

    // ---- BACKLOG AGING REPORT: open orders at a snapshot instant
    //      bucketed by how long they have waited (the 90/180/270-day
    //      AR-aging table). "Open at D" = placed by D, last shipment
    //      after D (one keyed max per order — the open-backlog
    //      predicate); the age bucket is exact integer days div 90
    //      capped at 3+. One fact pass, one order-keyed max, one
    //      4-key aggregate. ----
    Q("etl_backlog_aging",
      (s, dir) => {
        val d = lit("1999-01-01").cast("date")
        val shipped = Tables.t(s, dir, "lineitem")
          .groupBy(col("l_orderkey").as("o_orderkey"))
          .agg(max(col("l_shipdate").cast("date")).as("ship_done"))
        Tables.t(s, dir, "orders")
          .join(shipped, Seq("o_orderkey"))
          .filter(col("o_orderdate").cast("date") <= d && col("ship_done") > d)
          .select(expr("CAST(least(datediff(DATE'1999-01-01', CAST(o_orderdate AS DATE)) div 90, 3) AS BIGINT)")
              .as("age_bucket"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .groupBy("age_bucket")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("value_cents"))
          .orderBy("age_bucket")
      },
      Some("""WITH sh AS (SELECT l_orderkey AS o_orderkey,
             |    MAX(CAST(l_shipdate AS DATE)) AS ship_done FROM lineitem GROUP BY 1)
             |SELECT LEAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') // 90, 3) AS age_bucket,
             |  CAST(COUNT(*) AS BIGINT) AS n_orders,
             |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
             |FROM orders JOIN sh USING (o_orderkey)
             |WHERE CAST(o_orderdate AS DATE) <= DATE '1999-01-01' AND ship_done > DATE '1999-01-01'
             |GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
