package graft.queries

import graft.Tables
import graft.operators.GraphBfs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** SURVEY §2 operator inventory, demonstrated as standalone queries over
  * the driver-provided TPC-H-ish testdata (SURVEY §7.5). Each query has a
  * DuckDB oracle in [[oracles]] with identical column names/types.
  *
  * Numeric policy for oracle hash-parity: aggregates over doubles are
  * computed in exact decimal arithmetic and only the final result is cast
  * back to double, so Spark and DuckDB round identically regardless of
  * accumulation order. Counts are always cast to BIGINT on the SQL side
  * (DuckDB count → HUGEINT otherwise).
  */
object RelationalOps {

  /** Exact decimal sum of a double column, returned as double. */
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O-1: full scan + prefix filter (reference: list datasets by pk prefix,
    // backend/datasets/list.py:9-24). StartsWith pushes to the parquet scan.
    "q01_scan_prefix" -> ((s, d) => {
      Tables.load(s, d, "documents")
        .filter(col("source").startsWith("src1"))
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    }),

    // O-2: point get by key (backend/datasets/get.py:42-44).
    "q02_point_lookup" -> ((s, d) => {
      Tables.load(s, d, "customer").filter(col("c_custkey") === 42L)
    }),

    // O-3: secondary-index equality lookup (title GSI,
    // backend/datasets/get.py:54-81) — predicate pushdown replaces the GSI.
    "q03_eq_lookup" -> ((s, d) => {
      Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // O-4 / O-8: early-exit existence check (duplicate-title guard
    // backend/datasets/create.py:32-34; any-failure check
    // backend/validation_summary/task.py:33-39). LocalLimit gives early exit.
    "q04_exists_guard" -> ((s, d) => {
      val orders = Tables.load(s, d, "orders")
      val exists = !orders.filter(col("o_totalprice") > 400000.0).limit(1).isEmpty
      s.range(1).select(lit(exists).as("exists_over_400k"))
    }),

    // O-5: range-prefix count (DATA items of a version,
    // backend/content_iterator/task.py:54-59).
    "q05_prefix_count" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") <= 100L)
        .agg(count(lit(1)).as("n_items"))
    }),

    // O-6: ordered range query → manifest build
    // (backend/import_dataset/task.py:93-98), numeric item_index order.
    "q06_ordered_manifest" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") === 42L)
        .select(col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_quantity"))
        .orderBy(col("l_linenumber"))
    }),

    // O-7: GSI query with equality range condition (all FAILED rows of a
    // version, backend/import_status/get.py:120-126).
    "q07_outcome_filter" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .filter(col("o_orderstatus") === "F" && col("o_custkey") < 50L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    // O-25: boolean ALL-pass aggregate per group
    // (backend/validation_summary/task.py:32-43).
    "q08_allpass_summary" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(bool_and(col("o_orderstatus") === "F").as("all_finished"),
             count(lit(1)).as("n_orders"))
    }),

    // O-24: same-asset consistency rule — url referenced twice must carry
    // the same multihash (USAGE.md:76-79) ⇒ groupBy + countDistinct.
    "q09_consistency_rule" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(countDistinct(col("l_suppkey")).as("n_suppliers"))
        .filter(col("n_suppliers") > 1L)
    }),

    // O-28: deterministic index assignment via row_number
    // (backend/check_stac_metadata/utils.py:84-97 METADATA/DATA_ITEM_INDEX#i).
    "q10_enumerate" -> ((s, d) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_partkey"))
      Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") < 100L)
        .select(col("l_orderkey"), col("l_linenumber"),
                (row_number().over(w) - 1).cast("long").as("item_index"))
    }),

    // O-23 + O-26: three-source status merge with outcome CASE logic and
    // failure-list aggregation (backend/import_status/get.py:57-137).
    "q11_status_merge" -> ((s, d) => {
      val orders = Tables.load(s, d, "orders").filter(col("o_orderkey") < 500L)
      val failures = Tables.load(s, d, "lineitem")
        .filter(col("l_returnflag") === "R")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_fail"),
             concat_ws(",", array_sort(collect_list(col("l_partkey").cast("string"))))
               .as("fail_list"))
      val customers = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      orders
        .join(failures, orders("o_orderkey") === failures("l_orderkey"), "left")
        .join(broadcast(customers), orders("o_custkey") === customers("c_custkey"), "left")
        .select(
          col("o_orderkey"),
          when(col("o_orderstatus") === "O", "Pending")
            .when(coalesce(col("n_fail"), lit(0L)) > 0L, "Failed")
            .otherwise("Passed").as("validation"),
          coalesce(col("n_fail"), lit(0L)).as("n_fail"),
          coalesce(col("fail_list"), lit("")).as("fail_list"),
          coalesce(col("c_mktsegment"), lit("")).as("segment"))
    }),

    // O-29/O-30: pk/sk compose + decompose round trip
    // (backend/datasets_model.py:49,63-66; validation_results_model.py:92).
    "q12_key_compose" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 200L)
        .select(
          concat(lit("DATASET#"), col("o_orderkey").cast("string")).as("pk"),
          concat_ws("#", lit("CHECK"), lit("checksum"), lit("URL"),
                    concat(lit("s3://b/"), col("o_orderkey").cast("string"))).as("sk"))
        .withColumn("id_back", element_at(split(col("pk"), "#"), 2))
        .withColumn("check_back", element_at(split(col("sk"), "#"), 2))
    }),

    // O-15/O-31/O-32: URL scheme/dirname/basename/bucket/key functions and
    // relative-href resolution (backend/check_stac_metadata/utils.py:43-48,
    // task.py:21-23; import_dataset/task.py:104,187-188).
    "q13_url_funcs" -> ((s, d) => {
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("s3://bucket-"), col("source"), lit("/"), col("lang"),
                 lit("/doc_"), col("doc_id").cast("string"), lit(".json")).as("url"),
          concat(lit("item_"), col("doc_id").cast("string"), lit(".json")).as("rel_href"))
        .withColumn("dirname", regexp_replace(col("url"), "/[^/]*$", ""))
        .withColumn("basename", element_at(split(col("url"), "/"), -1))
        .withColumn("bucket", regexp_extract(col("url"), "^s3://([^/]+)/(.*)$", 1))
        .withColumn("key", regexp_extract(col("url"), "^s3://([^/]+)/(.*)$", 2))
        .withColumn("resolved",
          when(col("rel_href").startsWith("s3://"), col("rel_href"))
            .otherwise(concat(col("dirname"), lit("/"), col("rel_href"))))
    }),

    // O-17/O-37: multihash build + parse + digest comparison
    // (backend/check_files_checksums/utils.py:83-106; hex header parse at 98).
    "q14_multihash" -> ((s, d) => {
      Tables.load(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("1220"), sha2(col("text"), 256)).as("multihash"),
          sha2(col("text"), 256).as("actual_digest"))
        .withColumn("fn_code", conv(substring(col("multihash"), 1, 2), 16, 10).cast("long"))
        .withColumn("digest_len", conv(substring(col("multihash"), 3, 2), 16, 10).cast("long"))
        .withColumn("expected_digest", substring(col("multihash"), 5, 1000000))
        .withColumn("checksum_ok", col("expected_digest") === col("actual_digest"))
    }),

    // O-12/O-33: import-manifest CSV row construction
    // (backend/import_dataset/task.py:87-107): bucket,params-JSON with the
    // {title}-{id}/{version}/{basename} target layout.
    "q15_manifest_csv" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") < 50L)
        .select(col("l_orderkey"), col("l_linenumber"),
          concat(
            lit("staging,"),
            lit("""{"targetBucketName":"storage","originalKey":"data/part_"""),
            col("l_partkey").cast("string"),
            lit(""".bin","newKey":"ds-"""),
            col("l_orderkey").cast("string"), lit("/v1/part_"),
            col("l_partkey").cast("string"),
            lit(""".bin"}""")).as("manifest_row"))
    }),

    // O-14/O-22: recursive graph traversal with cycle guard — BFS over a
    // node graph N#nation → C#customer → O#order, from root N#3
    // (backend/check_stac_metadata/utils.py:99-130).
    "q16_graph_bfs" -> ((s, d) => {
      val customer = Tables.load(s, d, "customer")
      val orders = Tables.load(s, d, "orders")
      val e1 = customer.select(
        concat(lit("N#"), col("c_nationkey").cast("string")).as("src"),
        concat(lit("C#"), col("c_custkey").cast("string")).as("dst"))
      val e2 = orders.select(
        concat(lit("C#"), col("o_custkey").cast("string")).as("src"),
        concat(lit("O#"), col("o_orderkey").cast("string")).as("dst"))
      val edges = e1.union(e2)
      GraphBfs.reachableFrom(s, edges, "N#3", maxDepth = 5)
        .select(col("node"), col("depth"))
    }),

    // q16's reachability as a NATIVE recursive CTE (Spark 4 WITH
    // RECURSIVE) — the SQL-surface form of the same BFS: a user porting
    // recursive-CTE workloads runs them verbatim; the loop-form
    // GraphBfs stays the scale path (per-level dedup bounds the
    // frontier, where UNION ALL recursion enumerates every PATH before
    // the final GROUP BY collapses them — fine on a DAG this shallow,
    // explosive on diamond-heavy graphs).
    "q114_recursive_bfs" -> ((s, d) => {
      Tables.load(s, d, "customer").createOrReplaceTempView("customer")
      Tables.load(s, d, "orders").createOrReplaceTempView("orders")
      s.sql("""
        WITH RECURSIVE edges AS (
          SELECT 'N#' || CAST(c_nationkey AS STRING) AS src,
                 'C#' || CAST(c_custkey AS STRING) AS dst FROM customer
          UNION ALL
          SELECT 'C#' || CAST(o_custkey AS STRING),
                 'O#' || CAST(o_orderkey AS STRING) FROM orders
        ), bfs AS (
          SELECT 'N#3' AS node, 0 AS depth
          UNION ALL
          SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.node
          WHERE b.depth < 5
        )
        SELECT node, CAST(min(depth) AS BIGINT) AS depth
        FROM bfs GROUP BY node""")
    }),

    // Damped PageRank (2 rounds) over the undirected customer↔supplier
    // co-purchase graph — the iterative-importance member of the graph
    // family (BFS = reachability, CC = clusters). Supplier ids offset
    // by 10M so the two key spaces stay disjoint; per-edge
    // contributions quantize to the 1e-12 long grid before the
    // order-free sum (the KMeans discipline), so ranks are value-exact
    // cross-engine.
    "q81_pagerank" -> ((s, d) => {
      val orders = Tables.load(s, d, "orders")
      val li = Tables.load(s, d, "lineitem")
      val cs = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
        .select(col("o_custkey").as("src"),
                (col("l_suppkey") + 10000000L).as("dst"))
        .distinct()
        // the two-orientation union's branches are separate subtrees to
        // Spark — checkpoint the joined pairs or the orders⋈lineitem
        // join runs twice (the q44/connectedComponents lesson)
        .localCheckpoint()
      val undirected = cs.union(cs.select(col("dst").as("src"),
                                          col("src").as("dst")))
      // cs is distinct and its key spaces are disjoint, so the union
      // is already deduped + reversal-closed and reads from the
      // checkpoint — the operator skips its defensive distinct
      graft.operators.PageRank.run(undirected, damping = 0.85, iters = 2,
        bothOrientations = true)
    }),

    // Triangle enumeration over the co-ordered-parts graph — the
    // edge-iterator algorithm with id-orientation (u < v < w), so each
    // triangle materializes exactly once from two equi-joins on the
    // oriented edge list. The id ordering stands in for the
    // degree-ordering a production run would use to bound the join
    // fan-out on skewed graphs.
    "q85_triangles" -> ((s, d) => {
      val lp = Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") < 300L)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = lp.as("x").join(lp.as("y"),
          col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
        .select(col("x.pk").as("u"), col("y.pk").as("v"))
        .distinct()
      e.as("ab").join(e.as("bc"), col("ab.v") === col("bc.u"))
        .join(e.as("ac"),
          col("ac.u") === col("ab.u") && col("ac.v") === col("bc.v"))
        .select(col("ab.u").as("a"), col("ab.v").as("b"), col("bc.v").as("c"))
    }),

    // Z-order (Morton) layout key over (partkey, suppkey) — the
    // 2-D-clustering lake-layout primitive: range-partition + sort by
    // this value and min/max file statistics prune BOTH dimensions.
    // Computed by the native codegen'd ZOrder2 expression (bit loop
    // fused into the projection; also SQL-registered as z_order()).
    "q86_zorder" -> ((s, d) =>
      Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") < 2000L)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_partkey") % 65536L).as("x"),
          (col("l_suppkey") % 65536L).as("y"),
          graft.functions.ZOrder2.zorder(
            col("l_partkey") % 65536L, col("l_suppkey") % 65536L)
            .as("zvalue"))),

    // Hierarchical rollup (region → nation subtotals + grand total) —
    // one of the analytic shapes the reference lacks and Spark gives the
    // engine for free (SURVEY §2.4 "absent" list, made first-class here).
    "q40_rollup" -> ((s, d) => {
      val customer = Tables.load(s, d, "customer")
      val nation = Tables.load(s, d, "nation")
      val region = Tables.load(s, d, "region")
      customer
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
             dsum(col("c_acctbal")).as("sum_acctbal"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region"),
                coalesce(col("n_name"), lit("ALL")).as("nation"),
                col("n_customers"), col("sum_acctbal"))
    }),

    // Full cube (all 2^k grouping sets) with grouping_id disambiguating
    // the ALL rows — completes the multi-dimensional aggregate family
    // next to q40's rollup. One shuffle; Spark expands grouping sets
    // map-side.
    "q70_cube" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_items"),
             dsum(col("l_quantity")).as("sum_qty"),
             grouping_id().as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
                coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
                col("n_items"), col("sum_qty"), col("gid"))
    }),

    // Exact grouped quantiles (p25/median/p75): Spark's sort-based exact
    // `percentile`, not the t-digest approximation — at dyadic quantile
    // fractions over integer-valued inputs the linear interpolation is
    // exact in IEEE doubles, so any engine agrees bitwise. (Arbitrary
    // doubles at arbitrary fractions would NOT be cross-engine safe:
    // a + (b-a)·f and a·(1-f) + b·f round differently.)
    "q72_group_median" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
             expr("percentile(l_quantity, 0.25)").as("p25_qty"),
             expr("percentile(l_quantity, 0.5)").as("median_qty"),
             expr("percentile(l_quantity, 0.75)").as("p75_qty"))
    }),

    // Top-k per group via window rank: 3 highest-value orders per
    // customer segment (the top-k pattern §2.5 notes the reference lacks).
    "q41_topk_per_group" -> ((s, d) => {
      val orders = Tables.load(s, d, "orders")
      val customer = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders.join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
    }),

    // q41's per-group top-3 as a BOUNDED AGGREGATE (operators.TopK):
    // partial buffers carry ≤ k rows per key into the shuffle instead
    // of every row through a window sort. Shares q41's oracle, so the
    // two plans are pinned value-equal.
    "q87_topk_agg" -> ((s, d) => {
      val orders = Tables.load(s, d, "orders")
      val customer = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
      graft.operators.TopK.perKeyDesc(joined,
          key = "c_mktsegment", ord = "o_totalprice", tie = "o_orderkey", k = 3)
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"),
          col("rank"))
    }),

    // Weighted sample without replacement via PRIORITY SAMPLING
    // (Duffield/Lund/Thorup): priority = weight / uniform, keep the
    // top-k per stratum. Deterministic AND cross-engine exact — the
    // uniform is a 48-bit md5-derived integer (+1, so never zero), the
    // weight is a 2-decimal parquet value, and one IEEE division of
    // identical operands rounds identically everywhere; no pow(), the
    // blocker that rules out the u^(1/w) reservoir form. Runs through
    // the bounded TopK aggregate — ≤ k rows per stratum per mapper
    // into the shuffle, no window sort (the 100 TB sampling plan).
    "q128_priority_sample" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_returnflag"),
          // unique per row: linenumber is 1..7, 3 bits spare
          (col("l_orderkey") * 8 + col("l_linenumber")).as("row_key"),
          (col("l_quantity").cast("double") /
            (conv(substring(md5(concat(lit("w|"),
                col("l_orderkey").cast("string"), lit("|"),
                col("l_linenumber").cast("string"))), 1, 12), 16, 10)
              .cast("long").cast("double") + 1.0d)).as("priority"))
      graft.operators.TopK.perKeyDesc(li,
        key = "l_returnflag", ord = "priority", tie = "row_key", k = 20)
    }),

    // User-facing semi/anti joins (SURVEY §2.3 notes the reference only
    // has internal anti-join shapes; the engine exposes them properly):
    // customers WITH urgent orders, minus those with any 'F' order.
    "q51_semi_anti_join" -> ((s, d) => {
      val customer = Tables.load(s, d, "customer")
      val orders = Tables.load(s, d, "orders")
      val urgent = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      val finished = orders.filter(col("o_orderstatus") === "F")
        .select(col("o_custkey"))
      customer
        .join(urgent, customer("c_custkey") === urgent("o_custkey"), "left_semi")
        .join(finished, customer("c_custkey") === finished("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // Set operations (absent in the reference, first-class here):
    // suppliers' nations INTERSECT customers' nations, minus EUROPE's.
    "q52_set_ops" -> ((s, d) => {
      val supplierNations = Tables.load(s, d, "supplier")
        .select(col("s_nationkey").as("nationkey")).distinct()
      val customerNations = Tables.load(s, d, "customer")
        .select(col("c_nationkey").as("nationkey")).distinct()
      val nation = Tables.load(s, d, "nation")
      val europe = nation.filter(col("n_regionkey") === 3)
        .select(col("n_nationkey").as("nationkey"))
      supplierNations.intersect(customerNations)
        .except(europe)
        .join(nation, col("nationkey") === nation("n_nationkey"))
        .select(col("nationkey"), col("n_name"))
    }),

    // Binary-column hashing (O-10/O-17 over real BINARY, not strings):
    // the media/asset bytes path. sha2-512 also works Spark-side but the
    // oracle engine lacks it, so only the provable columns are emitted.
    "q53_binary_hash" -> ((s, d) => {
      Tables.load(s, d, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("blob"))
        .select(col("doc_id"),
          octet_length(col("blob")).cast("long").as("n_bytes"),
          sha2(col("blob"), 256).as("sha256_hex"))
    }),

    // O-17/O-10 verification stage end-to-end over real BINARY content,
    // emitting the engine's result vocabulary (check_files_checksums/
    // utils.py:83-106): every 50th doc's stored multihash is deliberately
    // tampered, every 97th carries an unsupported fn code — the column
    // form of ChecksumValidator.validateOne for table-resident blobs
    // (the mapPartitions form remains for streamed IO), message shapes
    // matching exactly ("Checksum mismatch: expected …, got …").
    "q54_multihash_verify" -> ((s, d) => {
      val stored = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("text"),
          encode(col("text"), "UTF-8").as("blob"))
        .withColumn("multihash",
          when(col("doc_id") % 97 === 0,
               concat(lit("ff20"), sha2(col("blob"), 256)))
            .when(col("doc_id") % 50 === 0,
               concat(lit("1220"), sha2(concat(col("text"), lit("~tampered")), 256)))
            .otherwise(concat(lit("1220"), sha2(col("blob"), 256))))
      stored
        .withColumn("fn_code", substring(col("multihash"), 1, 2))
        .withColumn("actual", sha2(col("blob"), 256))
        .withColumn("expected", substring(col("multihash"), 5, 1000000))
        .select(col("doc_id"), col("multihash"),
          when(col("fn_code") =!= "12", lit("Failed"))
            .when(col("expected") === col("actual"), lit("Passed"))
            .otherwise(lit("Failed")).as("result"),
          when(col("fn_code") =!= "12",
               concat(lit("Unsupported multihash function code 0x"), col("fn_code")))
            .when(col("expected") === col("actual"), lit(""))
            .otherwise(concat(lit("Checksum mismatch: expected "), col("expected"),
                              lit(", got "), col("actual"))).as("message"))
    }),

    // The flagship analytics shape (same as SparkEntry.entry): fact table
    // joined through two dimensions with a broadcast, decimal-exact agg.
    "q49_segment_revenue" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val orders = Tables.load(s, d, "orders")
      val customer = Tables.load(s, d, "customer")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .groupBy(col("c_mktsegment"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
    }),

    // HLL++ approximate distinct (the sketch path for 100 TB cardinality
    // estimation — one pass, fixed memory, vs q09's exact shuffle).
    // Sketch + exact side-by-side WITHOUT the Expand that mixing a
    // distinct agg with a non-distinct agg forces (2× agg input): dedupe
    // (flag, partkey) first — map-side combinable — then count and
    // sketch the distinct rows. HLL is duplicate-insensitive, so the
    // approx result is bit-identical to sketching the raw column; one
    // pass over the table either way, but no row doubling.
    // Oracle-able output: the raw HLL estimate is engine-specific, so
    // the published columns are the EXACT count (DuckDB-checkable) plus
    // `approx_ok`, the in-engine relative-error assertion — the oracle
    // pins it TRUE, so an HLL estimate drifting past 5% of exact (rsd
    // 0.01 → expected ~1%) turns this row red instead of unoracled.
    "q46_approx_distinct" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .select(col("l_returnflag"), col("l_partkey"))
        .distinct()
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
             count(lit(1)).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") <=
            col("exact_parts").cast("double") * 0.05).as("approx_ok"))
    }),

    // O-21-shaped manifest↔content equi-join + revenue agg (decimal-exact):
    // the classic pricing-summary shape over the lake's biggest table.
    "q17_revenue_agg" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
               (lit(java.math.BigDecimal.ONE).cast(DecimalType(18, 2)) -
                col("l_discount").cast(DecimalType(18, 2)))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),

    // Equi-depth (equal-frequency) 8-bin histogram of l_quantity — the
    // optimizer/layout statistic a lake keeps per column. The corpus
    // pass is ONE map-side-combinable value-count aggregate; the bin
    // assignment `(cum_before·8) div total` is integer-exact and runs
    // on the value table (50 distinct quantities), so the unpartitioned
    // window orders 50 rows, never the corpus — the q67 vocabulary
    // discipline applied to numeric stats.
    "q94_equidepth_hist" -> ((s, d) => {
      val vc = Tables.load(s, d, "lineitem")
        .groupBy(col("l_quantity").cast("long").as("v"))
        .agg(count(lit(1)).as("c"))
      val tot = vc.agg(sum(col("c")).as("t"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      vc.crossJoin(broadcast(tot))
        .withColumn("cb", coalesce(sum(col("c")).over(w), lit(0L)))
        .withColumn("bin", expr("(cb * 8) div t"))
        .groupBy(col("bin"))
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
          sum(col("c")).as("n_rows"))
    }),

    // Common-neighbor link prediction (neighborhood Jaccard) over the
    // January-1995 customer–part co-purchase graph. The month slice
    // keeps per-part degree bounded as the corpus grows (parts scale
    // with the data), so the pair space from the self-join on part is
    // O(edges·deg), never n²; degrees join back from the month-sliced
    // active-customer table. Top-20 by TakeOrdered (per-partition
    // heaps), no global sort.
    "q95_common_neighbors" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"))
      val ord = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1995-02-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"))
      val edges = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
        // three consumers (degrees + both pair-join sides): materialize
        // once (the q81 two-branch lesson)
        .localCheckpoint()
      val cdeg = edges.groupBy(col("c")).agg(count(lit(1)).as("deg"))
      val pairs = edges.select(col("p"), col("c").as("cust_a"))
        .join(edges.select(col("p"), col("c").as("cust_b")), Seq("p"))
        .filter(col("cust_a") < col("cust_b"))
        .groupBy(col("cust_a"), col("cust_b"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(broadcast(cdeg.select(col("c").as("cust_a"), col("deg").as("deg_a"))),
          Seq("cust_a"))
        .join(broadcast(cdeg.select(col("c").as("cust_b"), col("deg").as("deg_b"))),
          Seq("cust_b"))
        .select(col("cust_a"), col("cust_b"), col("shared"),
          (col("shared").cast("double") /
            (col("deg_a") + col("deg_b") - col("shared")).cast("double"))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("cust_a"), col("cust_b"))
        .limit(20)
    }),

    // Synchronous label propagation (2 unrolled rounds) on the q81
    // customer↔supplier co-purchase graph — community detection with
    // deterministic (count desc, label asc) adoption, value-exact
    // cross-engine because every step is integer counting.
    "q99_label_prop" -> ((s, d) => {
      val orders = Tables.load(s, d, "orders")
      val li = Tables.load(s, d, "lineitem")
      val cs = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
        .select(col("o_custkey").as("src"),
                (col("l_suppkey") + 10000000L).as("dst"))
        .distinct()
        .localCheckpoint() // two-orientation union: one materialization
      val undirected = cs.union(cs.select(col("dst").as("src"),
                                          col("src").as("dst")))
      graft.operators.LabelProp.run(undirected, iters = 2)
    }),

    // Table profiling (ANALYZE-style column statistics): one scan
    // computes n / nulls / exact distinct / min / max for each numeric
    // column, then `stack` unpivots the single stats row — the
    // statistics pass a lake runs to feed its optimizer and layout
    // decisions. Exact countDistinct is deliberate (the approximate
    // form is q46); the Expand it forces is one pass over the scan.
    "q102_table_profile" -> ((s, d) => {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val aggs = cols.flatMap(c => Seq(
        count(lit(1)).as(s"n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        count_distinct(col(c)).as(s"nd_$c"),
        min(col(c)).cast("double").as(s"mn_$c"),
        max(col(c)).cast("double").as(s"mx_$c")))
      val stackExpr = cols.map(c =>
        s"'$c', n_$c, nn_$c, nd_$c, mn_$c, mx_$c").mkString(", ")
      Tables.load(s, d, "lineitem")
        .agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${cols.size}, $stackExpr) AS " +
          "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)")
    }),

    // Constraint audit (data-contract checking): range rules, not-null
    // rules and referential integrity, each one aggregate or anti-join,
    // reported as (check_name, n_violations) — zero rows still report,
    // so a green audit is explicit.
    "q103_constraint_audit" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val ord = Tables.load(s, d, "orders")
      val cust = Tables.load(s, d, "customer")
      def check(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n_violations"))
          .select(lit(name).as("check_name"), col("n_violations"))
      check("lineitem_quantity_range",
          li.filter(col("l_quantity") < 1.0 || col("l_quantity") > 50.0))
        .unionByName(check("lineitem_discount_range",
          li.filter(col("l_discount") < 0.0 || col("l_discount") > 0.1)))
        .unionByName(check("orders_orderdate_not_null",
          ord.filter(col("o_orderdate").isNull)))
        .unionByName(check("orders_custkey_fk",
          ord.join(cust, ord("o_custkey") === cust("c_custkey"), "left_anti")))
        .unionByName(check("lineitem_orderkey_fk",
          li.join(ord, li("l_orderkey") === ord("o_orderkey"), "left_anti")))
    }),

    // Grid-bucketed spatial join (the geospatial lake's which-items-
    // touch-this-window join): deterministic integer bboxes derived
    // from part/supplier keys, cell-key candidates, exact closed-
    // interval verify, reference-point dedup (no distinct pass). The
    // oracle verifies with the direct θ-join — the grid is execution
    // strategy, not semantics.
    "q105_spatial_join" -> ((s, d) => {
      val a = Tables.load(s, d, "part").select(
        col("p_partkey").as("a_id"),
        (col("p_partkey") * 37L % 1000L).as("ax0"),
        (col("p_partkey") * 37L % 1000L + 1L + col("p_partkey") % 7L).as("ax1"),
        (col("p_partkey") * 61L % 1000L).as("ay0"),
        (col("p_partkey") * 61L % 1000L + 1L + col("p_partkey") % 5L).as("ay1"))
      val b = Tables.load(s, d, "supplier").select(
        col("s_suppkey").as("b_id"),
        (col("s_suppkey") * 97L % 1000L).as("bx0"),
        (col("s_suppkey") * 97L % 1000L + 4L + col("s_suppkey") % 13L).as("bx1"),
        (col("s_suppkey") * 41L % 1000L).as("by0"),
        (col("s_suppkey") * 41L % 1000L + 4L + col("s_suppkey") % 11L).as("by1"))
      graft.operators.SpatialJoin.bboxIntersect(a, b, cell = 16L)
    }),

    // Spatial density binning: deterministic customer points bucketed
    // to 50-unit grid cells — one map-side-combinable aggregate, the
    // heatmap/tile-statistics primitive.
    "q106_spatial_density" -> ((s, d) =>
      Tables.load(s, d, "customer")
        .groupBy(expr("(c_custkey * 13 % 1000) div 50").as("cx"),
          expr("(c_custkey * 29 % 1000) div 50").as("cy"))
        .agg(count(lit(1)).as("n_points"))),

    // Spatial k-NN: 3 nearest customer points per supplier query point,
    // exact integer squared distances — broadcast query points, one
    // corpus scan, per-query top-k via the bounded TopK AGGREGATE (the
    // window form shuffled and sorted all |P|·|Q| pairs; this reduces
    // them map-side to ≤ k·mappers rows per query).
    "q107_spatial_knn" -> ((s, d) =>
      graft.operators.SpatialJoin.knn(
          spatialPoints(s, d), spatialQueries(s, d), k = 3)
        .withColumnRenamed("id", "cust_id")),

    // Same k-NN through the grid-probed exact plan (3×3 cell equi-join
    // candidates + guarantee-radius check + brute rescue for the
    // remainder) — the pair space is O(local density), never |P|·|Q|.
    // Shares q107's semantics, so the oracle is the same direct SQL.
    "q109_spatial_knn_grid" -> ((s, d) =>
      graft.operators.SpatialJoin.knnGrid(
          spatialPoints(s, d), spatialQueries(s, d), k = 3, cell = 50L)
        .withColumnRenamed("id", "cust_id")),

    // Fixed-radius neighbor join (geofencing / proximity primitive):
    // every (supplier query, customer point) pair within distance 30,
    // exact integer d² — 3×3 cell probe at cell = r, complete by the
    // triangle bound and duplicate-free because a point lives in one
    // cell. The oracle is the direct θ-join.
    "q235_points_within_dist" -> ((s, d) =>
      graft.operators.SpatialJoin.withinDist(
          spatialPoints(s, d), spatialQueries(s, d), r = 30L)
        .withColumnRenamed("id", "cust_id")),

    // Keyed table reconciliation (CDC diff): full-outer join on the key
    // comparing payload columns, emitting only differing rows as
    // (key, only_left | only_right | changed) — the anti-entropy pass
    // that validates a replicated 100 TB table. The "right" side here
    // is a deterministic perturbation of orders (drop every 1000th key,
    // bump totalprice on every 997th) so the expected diff is exact.
    "q104_table_diff" -> ((s, d) => {
      val a = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val b = a.filter(col("o_orderkey") % 1000L =!= 0L)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 997L === 0L, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      val l = a.select(a.columns.toSeq.map(c => col(c).as(s"l_$c")): _*)
      val r = b.select(b.columns.toSeq.map(c => col(c).as(s"r_$c")): _*)
      l.join(r, col("l_o_orderkey") === col("r_o_orderkey"), "full_outer")
        .select(
          coalesce(col("l_o_orderkey"), col("r_o_orderkey")).as("o_orderkey"),
          when(col("r_o_orderkey").isNull, "only_left")
            .when(col("l_o_orderkey").isNull, "only_right")
            .when(col("l_o_totalprice") =!= col("r_o_totalprice") ||
              col("l_o_custkey") =!= col("r_o_custkey") ||
              col("l_o_orderstatus") =!= col("r_o_orderstatus"), "changed")
            .otherwise("same").as("diff_kind"))
        .filter(col("diff_kind") =!= "same")
    })
  )

  /** Deterministic integer point sets for the spatial k-NN family. */
  private def spatialPoints(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "customer").select(
      col("c_custkey").as("id"),
      (col("c_custkey") * 13L % 1000L).as("px"),
      (col("c_custkey") * 29L % 1000L).as("py"))

  private def spatialQueries(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "supplier").select(
      col("s_suppkey").as("query_id"),
      (col("s_suppkey") * 97L % 1000L).as("qx"),
      (col("s_suppkey") * 41L % 1000L).as("qy"))

  def oracles: Map[String, String] = Map(
    "q01_scan_prefix" ->
      "SELECT doc_id, source, lang, n_chars FROM documents WHERE source LIKE 'src1%'",

    "q02_point_lookup" ->
      "SELECT * FROM customer WHERE c_custkey = 42",

    "q03_eq_lookup" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'",

    "q04_exists_guard" ->
      "SELECT (count(*) > 0) AS exists_over_400k FROM orders WHERE o_totalprice > 400000.0",

    "q05_prefix_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS n_items FROM lineitem WHERE l_orderkey <= 100",

    "q06_ordered_manifest" ->
      """SELECT l_linenumber, l_partkey, l_suppkey, l_quantity FROM lineitem
         WHERE l_orderkey = 42 ORDER BY l_linenumber""",

    "q07_outcome_filter" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
         WHERE o_orderstatus = 'F' AND o_custkey < 50""",

    "q08_allpass_summary" ->
      """SELECT o_custkey, bool_and(o_orderstatus = 'F') AS all_finished,
                CAST(count(*) AS BIGINT) AS n_orders
         FROM orders GROUP BY o_custkey""",

    "q09_consistency_rule" ->
      """SELECT l_partkey, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
         FROM lineitem GROUP BY l_partkey HAVING count(DISTINCT l_suppkey) > 1""",

    "q10_enumerate" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(row_number() OVER (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_partkey) - 1 AS BIGINT) AS item_index
         FROM lineitem WHERE l_orderkey < 100""",

    "q11_status_merge" ->
      """SELECT o.o_orderkey,
                CASE WHEN o.o_orderstatus = 'O' THEN 'Pending'
                     WHEN coalesce(f.n_fail, 0) > 0 THEN 'Failed'
                     ELSE 'Passed' END AS validation,
                CAST(coalesce(f.n_fail, 0) AS BIGINT) AS n_fail,
                coalesce(f.fail_list, '') AS fail_list,
                coalesce(c.c_mktsegment, '') AS segment
         FROM (SELECT * FROM orders WHERE o_orderkey < 500) o
         LEFT JOIN (SELECT l_orderkey, count(*) AS n_fail,
                           string_agg(CAST(l_partkey AS VARCHAR), ','
                                      ORDER BY CAST(l_partkey AS VARCHAR)) AS fail_list
                    FROM lineitem WHERE l_returnflag = 'R'
                    GROUP BY l_orderkey) f
           ON o.o_orderkey = f.l_orderkey
         LEFT JOIN customer c ON o.o_custkey = c.c_custkey""",

    "q12_key_compose" ->
      """SELECT 'DATASET#' || CAST(o_orderkey AS VARCHAR) AS pk,
                'CHECK#checksum#URL#s3://b/' || CAST(o_orderkey AS VARCHAR) AS sk,
                split_part('DATASET#' || CAST(o_orderkey AS VARCHAR), '#', 2) AS id_back,
                'checksum' AS check_back
         FROM orders WHERE o_orderkey < 200""",

    "q13_url_funcs" ->
      """WITH u AS (
           SELECT doc_id,
                  's3://bucket-' || source || '/' || lang || '/doc_'
                    || CAST(doc_id AS VARCHAR) || '.json' AS url,
                  'item_' || CAST(doc_id AS VARCHAR) || '.json' AS rel_href
           FROM documents)
         SELECT doc_id, url, rel_href,
                regexp_replace(url, '/[^/]*$', '') AS dirname,
                list_extract(string_split(url, '/'), len(string_split(url, '/'))) AS basename,
                regexp_extract(url, '^s3://([^/]+)/(.*)$', 1) AS bucket,
                regexp_extract(url, '^s3://([^/]+)/(.*)$', 2) AS key,
                CASE WHEN rel_href LIKE 's3://%' THEN rel_href
                     ELSE regexp_replace(url, '/[^/]*$', '') || '/' || rel_href
                END AS resolved
         FROM u""",

    "q14_multihash" ->
      """SELECT doc_id,
                '1220' || sha256(text) AS multihash,
                sha256(text) AS actual_digest,
                CAST(18 AS BIGINT) AS fn_code,
                CAST(32 AS BIGINT) AS digest_len,
                sha256(text) AS expected_digest,
                true AS checksum_ok
         FROM documents""",

    "q15_manifest_csv" ->
      """SELECT l_orderkey, l_linenumber,
                'staging,{"targetBucketName":"storage","originalKey":"data/part_'
                || CAST(l_partkey AS VARCHAR) || '.bin","newKey":"ds-'
                || CAST(l_orderkey AS VARCHAR) || '/v1/part_'
                || CAST(l_partkey AS VARCHAR) || '.bin"}' AS manifest_row
         FROM lineitem WHERE l_orderkey < 50""",

    "q16_graph_bfs" ->
      """WITH RECURSIVE edges AS (
           SELECT 'N#' || CAST(c_nationkey AS VARCHAR) AS src,
                  'C#' || CAST(c_custkey AS VARCHAR) AS dst FROM customer
           UNION ALL
           SELECT 'C#' || CAST(o_custkey AS VARCHAR),
                  'O#' || CAST(o_orderkey AS VARCHAR) FROM orders
         ), bfs AS (
           SELECT 'N#3' AS node, 0 AS depth
           UNION ALL
           SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.node
           WHERE b.depth < 5
         )
         SELECT node, CAST(min(depth) AS BIGINT) AS depth FROM bfs GROUP BY node""",

    "q114_recursive_bfs" ->
      """WITH RECURSIVE edges AS (
           SELECT 'N#' || CAST(c_nationkey AS VARCHAR) AS src,
                  'C#' || CAST(c_custkey AS VARCHAR) AS dst FROM customer
           UNION ALL
           SELECT 'C#' || CAST(o_custkey AS VARCHAR),
                  'O#' || CAST(o_orderkey AS VARCHAR) FROM orders
         ), bfs AS (
           SELECT 'N#3' AS node, 0 AS depth
           UNION ALL
           SELECT e.dst, b.depth + 1 FROM bfs b JOIN edges e ON e.src = b.node
           WHERE b.depth < 5
         )
         SELECT node, CAST(min(depth) AS BIGINT) AS depth FROM bfs GROUP BY node""",

    "q86_zorder" -> {
      val terms = (0 until 16).flatMap(i => Seq(
        s"(((x >> $i) & 1) << ${2 * i})",
        s"(((y >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
      s"""WITH b AS (SELECT l_orderkey, l_linenumber,
                            l_partkey % 65536 AS x, l_suppkey % 65536 AS y
                     FROM lineitem WHERE l_orderkey < 2000)
          SELECT l_orderkey, l_linenumber, x, y,
                 CAST($terms AS BIGINT) AS zvalue
          FROM b"""
    },

    "q85_triangles" ->
      """WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem WHERE l_orderkey < 300),
          e AS (SELECT DISTINCT x.pk AS u, y.pk AS v
                FROM lp x JOIN lp y ON x.ok = y.ok AND x.pk < y.pk)
          SELECT ab.u AS a, ab.v AS b, bc.v AS c
          FROM e ab
          JOIN e bc ON ab.v = bc.u
          JOIN e ac ON ac.u = ab.u AND ac.v = bc.v""",

    "q81_pagerank" -> {
      def round(r: Int, prev: String) =
        s"""c$r AS (SELECT e.dst AS id,
                           CAST(sum(CAST(floor($prev.rank
                                  / CAST(od.outdeg AS DOUBLE) * 1e12)
                                AS BIGINT)) AS BIGINT) AS s
                    FROM e
                    JOIN $prev ON $prev.id = e.src
                    JOIN od ON od.id = e.src
                    GROUP BY e.dst),
            r$r AS (SELECT nodes.id,
                           (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                             + CAST(0.85 AS DOUBLE)
                               * (CAST(coalesce(c$r.s, 0) AS DOUBLE) / 1e12)
                             AS rank
                    FROM nodes LEFT JOIN c$r USING (id) CROSS JOIN nn)"""
      s"""WITH e0 AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                             CAST(l_suppkey + 10000000 AS BIGINT) AS dst
                      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT src, dst FROM e0
                UNION SELECT dst, src FROM e0),
          nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
          nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
          od AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS outdeg
                 FROM e GROUP BY src),
          r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS rank
                 FROM nodes CROSS JOIN nn),
          ${round(1, "r0")},
          ${round(2, "r1")}
          SELECT id, rank FROM r2"""
    },

    "q51_semi_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT')
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderstatus = 'F')""",

    "q52_set_ops" ->
      """WITH sn AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier),
          cn AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
          eu AS (SELECT n_nationkey AS nationkey FROM nation WHERE n_regionkey = 3),
          keep AS (SELECT nationkey FROM sn
                   INTERSECT SELECT nationkey FROM cn
                   EXCEPT SELECT nationkey FROM eu)
          SELECT k.nationkey, n.n_name
          FROM keep k JOIN nation n ON n.n_nationkey = k.nationkey""",

    "q53_binary_hash" ->
      """SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                sha256(text) AS sha256_hex
         FROM documents""",

    "q54_multihash_verify" ->
      """WITH stored AS (
           SELECT doc_id, text,
                  CASE WHEN doc_id % 97 = 0 THEN 'ff20' || sha256(text)
                       WHEN doc_id % 50 = 0 THEN '1220' || sha256(text || '~tampered')
                       ELSE '1220' || sha256(text) END AS multihash
           FROM documents),
         v AS (
           SELECT doc_id, multihash,
                  substr(multihash, 1, 2) AS fn_code,
                  sha256(text) AS actual,
                  substr(multihash, 5) AS expected
           FROM stored)
         SELECT doc_id, multihash,
                CASE WHEN fn_code <> '12' THEN 'Failed'
                     WHEN expected = actual THEN 'Passed'
                     ELSE 'Failed' END AS result,
                CASE WHEN fn_code <> '12'
                       THEN 'Unsupported multihash function code 0x' || fn_code
                     WHEN expected = actual THEN ''
                     ELSE 'Checksum mismatch: expected ' || expected || ', got ' || actual
                END AS message
         FROM v""",

    // the raw HLL estimate is engine-specific; the oracle pins the
    // EXACT distinct count and asserts the estimate stayed within 5%
    // (the engine computes approx_ok from its own sketch — a drifting
    // HLL turns this row red instead of silently unoracled)
    "q46_approx_distinct" ->
      """SELECT l_returnflag,
                CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
                TRUE AS approx_ok
         FROM lineitem GROUP BY 1""",

    "q49_segment_revenue" ->
      """SELECT c.c_mktsegment, l.l_returnflag,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY c.c_mktsegment, l.l_returnflag""",

    "q40_rollup" ->
      """SELECT coalesce(r.r_name, 'ALL') AS region,
                coalesce(n.n_name, 'ALL') AS nation,
                CAST(count(*) AS BIGINT) AS n_customers,
                CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
         FROM customer c
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
         GROUP BY ROLLUP (r.r_name, n.n_name)""",

    "q70_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                coalesce(l_linestatus, 'ALL') AS linestatus,
                CAST(count(*) AS BIGINT) AS n_items,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
                     AS BIGINT) AS gid
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)""",

    "q72_group_median" ->
      """SELECT l_returnflag,
                CAST(count(*) AS BIGINT) AS n_items,
                quantile_cont(l_quantity, 0.25) AS p25_qty,
                quantile_cont(l_quantity, 0.5) AS median_qty,
                quantile_cont(l_quantity, 0.75) AS p75_qty
         FROM lineitem
         GROUP BY l_returnflag""",

    "q41_topk_per_group" ->
      """SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                     ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT) AS rank
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         QUALIFY rank <= 3""",

    // the aggregate form must produce exactly the window form's rows
    "q87_topk_agg" ->
      """SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
                CAST(row_number() OVER (PARTITION BY c.c_mktsegment
                     ORDER BY o.o_totalprice DESC, o.o_orderkey) AS BIGINT) AS rank
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         QUALIFY rank <= 3""",

    "q128_priority_sample" ->
      """WITH p AS (
           SELECT l_returnflag,
                  CAST(l_orderkey * 8 + l_linenumber AS BIGINT) AS row_key,
                  CAST(l_quantity AS DOUBLE)
                    / (CAST(CAST('0x' || substr(md5('w|'
                         || CAST(l_orderkey AS VARCHAR) || '|'
                         || CAST(l_linenumber AS VARCHAR)), 1, 12)
                       AS BIGINT) AS DOUBLE) + 1.0) AS priority
           FROM lineitem)
         SELECT l_returnflag, priority, row_key,
                CAST(row_number() OVER (PARTITION BY l_returnflag
                     ORDER BY priority DESC, row_key) AS BIGINT) AS rank
         FROM p QUALIFY rank <= 20""",

    "q17_revenue_agg" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
                     AS DOUBLE) AS sum_disc_price,
                CAST(count(*) AS BIGINT) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q94_equidepth_hist" ->
      """WITH vc AS (SELECT CAST(l_quantity AS BIGINT) AS v,
                            CAST(count(*) AS BIGINT) AS c
                     FROM lineitem GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM vc),
          b AS (SELECT v, c,
                       CAST(coalesce(sum(c) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                            AS BIGINT) AS cb
                FROM vc)
          SELECT (cb * 8) // t AS bin,
                 CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi,
                 CAST(sum(c) AS BIGINT) AS n_rows
          FROM b CROSS JOIN tot GROUP BY 1""",

    "q95_common_neighbors" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                      AND o_orderdate < TIMESTAMP '1995-02-01'),
          cd AS (SELECT c, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY c),
          pr AS (SELECT a.c AS cust_a, b.c AS cust_b,
                        CAST(count(*) AS BIGINT) AS shared
                 FROM e a JOIN e b ON a.p = b.p AND a.c < b.c
                 GROUP BY 1, 2)
          SELECT cust_a, cust_b, shared,
                 CAST(shared AS DOUBLE)
                   / CAST(da.deg + db.deg - shared AS DOUBLE) AS jaccard
          FROM pr
          JOIN cd da ON da.c = pr.cust_a
          JOIN cd db ON db.c = pr.cust_b
          ORDER BY jaccard DESC, cust_a, cust_b LIMIT 20""",

    "q99_label_prop" ->
      """WITH cs AS (SELECT DISTINCT o_custkey AS src,
                            l_suppkey + 10000000 AS dst
                     FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
          e AS (SELECT src, dst FROM cs
                UNION ALL SELECT dst AS src, src AS dst FROM cs),
          l0 AS (SELECT node, node AS label FROM (
                   SELECT DISTINCT src AS node FROM e)),
          c1 AS (SELECT e.src AS node, l0.label,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM e JOIN l0 ON l0.node = e.dst GROUP BY 1, 2),
          l1 AS (SELECT node, label FROM (
                   SELECT node, label,
                          row_number() OVER (PARTITION BY node
                            ORDER BY cnt DESC, label) AS rn
                   FROM c1) WHERE rn = 1),
          c2 AS (SELECT e.src AS node, l1.label,
                        CAST(count(*) AS BIGINT) AS cnt
                 FROM e JOIN l1 ON l1.node = e.dst GROUP BY 1, 2),
          l2 AS (SELECT node, label FROM (
                   SELECT node, label,
                          row_number() OVER (PARTITION BY node
                            ORDER BY cnt DESC, label) AS rn
                   FROM c2) WHERE rn = 1)
          SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
          FROM l2""",

    "q102_table_profile" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map(c =>
        s"""SELECT '$c' AS column_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_nulls,
                   CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
                   CAST(min($c) AS DOUBLE) AS min_value,
                   CAST(max($c) AS DOUBLE) AS max_value
            FROM lineitem""").mkString("\n          UNION ALL "),

    "q103_constraint_audit" ->
      """SELECT 'lineitem_quantity_range' AS check_name,
                CAST(count(*) AS BIGINT) AS n_violations
         FROM lineitem WHERE l_quantity < 1.0 OR l_quantity > 50.0
         UNION ALL
         SELECT 'lineitem_discount_range', CAST(count(*) AS BIGINT)
         FROM lineitem WHERE l_discount < 0.0 OR l_discount > 0.1
         UNION ALL
         SELECT 'orders_orderdate_not_null', CAST(count(*) AS BIGINT)
         FROM orders WHERE o_orderdate IS NULL
         UNION ALL
         SELECT 'orders_custkey_fk', CAST(count(*) AS BIGINT)
         FROM orders ANTI JOIN customer ON o_custkey = c_custkey
         UNION ALL
         SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT)
         FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey""",

    "q104_table_diff" ->
      """WITH a AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
                    FROM orders),
          b AS (SELECT o_orderkey, o_custkey,
                       CASE WHEN o_orderkey % 997 = 0
                            THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderstatus
                FROM a WHERE o_orderkey % 1000 <> 0),
          j AS (SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                       CASE WHEN b.o_orderkey IS NULL THEN 'only_left'
                            WHEN a.o_orderkey IS NULL THEN 'only_right'
                            WHEN a.o_totalprice <> b.o_totalprice
                              OR a.o_custkey <> b.o_custkey
                              OR a.o_orderstatus <> b.o_orderstatus
                              THEN 'changed'
                            ELSE 'same' END AS diff_kind
                FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
          SELECT o_orderkey, diff_kind FROM j WHERE diff_kind <> 'same'""",

    "q105_spatial_join" ->
      """WITH a AS (SELECT p_partkey AS a_id,
                           p_partkey * 37 % 1000 AS ax0,
                           p_partkey * 37 % 1000 + 1 + p_partkey % 7 AS ax1,
                           p_partkey * 61 % 1000 AS ay0,
                           p_partkey * 61 % 1000 + 1 + p_partkey % 5 AS ay1
                    FROM part),
          b AS (SELECT s_suppkey AS b_id,
                       s_suppkey * 97 % 1000 AS bx0,
                       s_suppkey * 97 % 1000 + 4 + s_suppkey % 13 AS bx1,
                       s_suppkey * 41 % 1000 AS by0,
                       s_suppkey * 41 % 1000 + 4 + s_suppkey % 11 AS by1
                FROM supplier)
          SELECT a_id, b_id,
                 CAST((least(ax1, bx1) - greatest(ax0, bx0) + 1)
                      * (least(ay1, by1) - greatest(ay0, by0) + 1) AS BIGINT)
                   AS overlap_area
          FROM a JOIN b ON ax0 <= bx1 AND bx0 <= ax1
                       AND ay0 <= by1 AND by0 <= ay1""",

    "q106_spatial_density" ->
      """SELECT c_custkey * 13 % 1000 // 50 AS cx,
                c_custkey * 29 % 1000 // 50 AS cy,
                CAST(count(*) AS BIGINT) AS n_points
         FROM customer GROUP BY 1, 2""",

    // Direct θ-join: the grid probe is execution strategy only.
    "q235_points_within_dist" ->
      """WITH p AS (SELECT c_custkey AS cust_id,
                           c_custkey * 13 % 1000 AS px,
                           c_custkey * 29 % 1000 AS py FROM customer),
          q AS (SELECT s_suppkey AS query_id,
                       s_suppkey * 97 % 1000 AS qx,
                       s_suppkey * 41 % 1000 AS qy FROM supplier)
          SELECT query_id, cust_id,
                 CAST((px - qx) * (px - qx) + (py - qy) * (py - qy)
                      AS BIGINT) AS d2
          FROM p CROSS JOIN q
          WHERE (px - qx) * (px - qx) + (py - qy) * (py - qy) <= 900""",

    "q107_spatial_knn" ->
      """WITH p AS (SELECT c_custkey AS cust_id,
                           c_custkey * 13 % 1000 AS px,
                           c_custkey * 29 % 1000 AS py FROM customer),
          q AS (SELECT s_suppkey AS query_id,
                       s_suppkey * 97 % 1000 AS qx,
                       s_suppkey * 41 % 1000 AS qy FROM supplier),
          dd AS (SELECT query_id, cust_id,
                        (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2
                 FROM p CROSS JOIN q),
          r AS (SELECT query_id, cust_id, d2,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY d2, cust_id) AS BIGINT) AS rank
                FROM dd)
          SELECT query_id, rank, cust_id, CAST(d2 AS BIGINT) AS d2
          FROM r WHERE rank <= 3""",

    "q109_spatial_knn_grid" ->
      """WITH p AS (SELECT c_custkey AS cust_id,
                           c_custkey * 13 % 1000 AS px,
                           c_custkey * 29 % 1000 AS py FROM customer),
          q AS (SELECT s_suppkey AS query_id,
                       s_suppkey * 97 % 1000 AS qx,
                       s_suppkey * 41 % 1000 AS qy FROM supplier),
          dd AS (SELECT query_id, cust_id,
                        (px - qx) * (px - qx) + (py - qy) * (py - qy) AS d2
                 FROM p CROSS JOIN q),
          r AS (SELECT query_id, cust_id, d2,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY d2, cust_id) AS BIGINT) AS rank
                FROM dd)
          SELECT query_id, rank, cust_id, CAST(d2 AS BIGINT) AS d2
          FROM r WHERE rank <= 3"""
  )
}
