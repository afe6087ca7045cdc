package graft.sources

import graft.{Q, Tables}
import graft.ops.BucketedStore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files

/** SURVEY.md §2 B1: non-parquet sources/sinks proven by round-trip — write
  * the fixture out in the target format, read it back with an explicit
  * schema (reference-native: schema supplied externally, no header —
  * SURVEY.md §1.1), and aggregate; the oracle computes the same aggregate
  * straight from parquet, so any format/scheme drift fails the hash.
  */
object SourceQueries {

  private def tmp(prefix: String): String =
    graft.Scratch.dir(prefix) // removed at JVM exit — no sink-dir leaks

  /** Headerless TSV with supplied schema (the reference's native shape). */
  private val src01 = Q(
    "src01_csv_roundtrip",
    """SELECT n_name, count(*) AS n_cust, round(sum(c_acctbal), 2) AS total_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name ORDER BY n_name""") { (s, d) =>
    val dir = tmp("graft_csv")
    Tables.customer(s, d)
      .write.mode("overwrite")
      .option("header", "false").option("sep", "\t")
      .csv(s"$dir/customer_tsv")
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    val cust = s.read.schema(schema)
      .option("header", "false").option("sep", "\t")
      .csv(s"$dir/customer_tsv")
    cust.join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"), round(sum("c_acctbal"), 2).as("total_bal"))
      .orderBy("n_name")
  }

  /** JSON-lines round-trip (schema inferred on read-back). */
  private val src02 = Q(
    "src02_jsonl_roundtrip",
    """SELECT o_orderpriority, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders WHERE o_orderkey < 5000
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    val dir = tmp("graft_jsonl")
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 5000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .write.mode("overwrite").json(s"$dir/orders_json")
    s.read.json(s"$dir/orders_json")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy("o_orderpriority")
  }

  /** Plain text source/sink (A1 analog: line-oriented scan). */
  private val src03 = Q(
    "src03_text_roundtrip",
    """SELECT count(*) AS n_lines,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
              min(md5(text)) AS min_hash
       FROM documents""") { (s, d) =>
    val dir = tmp("graft_text")
    Tables.documents(s, d).select(col("text"))
      .write.mode("overwrite").text(s"$dir/docs_txt")
    val lines = s.read.text(s"$dir/docs_txt")
    lines.agg(
      count(lit(1)).as("n_lines"),
      sum(size(split(col("value"), " ")).cast(LongType)).as("n_tokens"),
      min(md5(col("value"))).as("min_hash"))
  }

  /** Partitioned parquet sink + partition-pruned read-back: writes orders
    * partitioned by year, reads one partition — the scan must prune to a
    * single directory (verified by the oracle agreeing with a year
    * filter; pruning itself is asserted in PlanSpec). */
  private val src04 = Q(
    "src04_partitioned_parquet",
    """SELECT o_orderpriority, count(*) AS n
       FROM orders WHERE year(o_orderdate) = 1997
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    val dir = tmp("graft_part_parquet")
    Tables.orders(s, d)
      .withColumn("o_year", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(s"$dir/orders_by_year")
    s.read.parquet(s"$dir/orders_by_year")
      .filter(col("o_year") === 1997)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** ORC round-trip (columnar alternative to parquet; Spark-native
    * reader/writer, same pushdown/pruning machinery). */
  private val src05 = Q(
    "src05_orc_roundtrip",
    """SELECT p_brand, count(*) AS n_parts,
              CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM part GROUP BY p_brand ORDER BY p_brand""") { (s, d) =>
    val dir = tmp("graft_orc")
    Tables.part(s, d).write.mode("overwrite").orc(s"$dir/part_orc")
    s.read.orc(s"$dir/part_orc")
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_parts"),
        sum(round(col("p_retailprice") * 100).cast(LongType)).as("total_cents"))
      .orderBy("p_brand")
  }

  /** Bucketed tables + co-located join: both sides written bucketed and
    * sorted by the join key into external tables, then joined. With
    * matching bucket counts the join needs NO shuffle of either side —
    * the at-100TB pattern for a fact-fact join that runs repeatedly
    * (pay the bucketing write once, skip the exchange every query).
    * Exchange-freeness is asserted in PlanSpec; the oracle pins the
    * result equal to the plain join. */
  private val src06 = Q(
    "src06_bucketed_join",
    """SELECT o_orderpriority, count(*) AS n_items,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS item_cents
       FROM orders JOIN lineitem ON l_orderkey = o_orderkey
       WHERE o_orderdate >= DATE '1996-01-01'
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    val dir = tmp("graft_bucketed")
    // ONE scale-derived count shared by both sides (the co-located join
    // requires matching bucket specs), sized from the LARGER side's
    // footers — the r14 verdict's fixed-8 write-parallelism fix
    val n = BucketedStore.scaleBuckets(Tables.lineitem(s, d))
    BucketedStore.write(Tables.orders(s, d), "o_orderkey", n,
      "graft_orders_bucketed", s"$dir/orders_b")
    BucketedStore.write(
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice"), "l_orderkey", n,
      "graft_lineitem_bucketed", s"$dir/lineitem_b")
    s.table("graft_orders_bucketed")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date"))
      .join(s.table("graft_lineitem_bucketed"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_extendedprice") * 100).cast(LongType)).as("item_cents"))
      .orderBy("o_orderpriority")
  }

  /** Production shard-writer layout: the corpus written partitioned by
    * `lang` (partition pruning for per-language jobs), sorted by doc_id
    * within files (run-length-friendly pages, mergeable shards), and
    * capped at 100 records per file (`maxRecordsPerFile` — the knob that
    * bounds shard size when a training loader wants many small shards;
    * t22 plans the balance, this executes the layout). Verified by
    * reading the layout back: per-language counts and id ranges must
    * round-trip exactly; the file-count-per-partition contract is
    * spec-asserted (it is a layout property, invisible to SQL). */
  private val src07 = Q(
    "src07_sharded_write",
    """SELECT lang, count(*) AS n_rows,
              min(doc_id) AS min_id, max(doc_id) AS max_id
       FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
    val dir = tmp("graft_sharded")
    Tables.documents(s, d)
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 100)
      .partitionBy("lang")
      .parquet(s"$dir/docs_sharded")
    s.read.parquet(s"$dir/docs_sharded")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  /** Schema evolution across parquet generations — the data-lake fact
    * of life a long-lived corpus store hits first: old shards were
    * written before a column existed, new shards carry it. Two
    * generations of the orders table are written under one root (gen1
    * WITHOUT o_year, gen2 WITH it) and read back through ONE scan with
    * `mergeSchema` — Spark unions the footers' schemas and fills the
    * missing column with NULL for old files. The aggregate groups by
    * the evolved column, so the NULL bucket IS gen1, pinned exactly by
    * the oracle's recomputation from the base table.
    *
    * Scale note: mergeSchema reads every footer at planning time — on a
    * million-file lake that is the expensive step, which is why the
    * layout (src07) keeps shards coarse and why a production deployment
    * pins the merged schema in a metastore after one inference pass.
    * The per-file NULL fill itself is free (no rewrite of old data). */
  private val src08 = Q(
    "src08_schema_evolution",
    """WITH gens AS (
         SELECT o_orderkey, o_totalprice,
                CASE WHEN o_orderkey % 2 = 0
                     THEN CAST(NULL AS BIGINT)
                     ELSE CAST(year(o_orderdate) AS BIGINT) END AS o_year
         FROM orders)
       SELECT coalesce(o_year, -1) AS o_year, count(*) AS n_orders,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM gens GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = tmp("graft_evolved")
    val orders = Tables.orders(s, d)
    orders.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/lake/gen1")
    orders.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast(LongType).as("o_year"))
      .write.mode("overwrite").parquet(s"$dir/lake/gen2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$dir/lake/gen1", s"$dir/lake/gen2")
      .groupBy(coalesce(col("o_year"), lit(-1L)).as("o_year"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast(LongType)).as("total_cents"))
      .orderBy("o_year")
  }

  /** Malformed-record quarantine on JSONL ingest — what a 100 TB crawl
    * feed actually looks like: some share of lines are truncated or
    * broken JSON, and the pipeline must COUNT and SET ASIDE those rows,
    * not die (FAILFAST) and not silently drop them (DROPMALFORMED).
    * PERMISSIVE mode + `columnNameOfCorruptRecord` routes every
    * unparseable line into a quarantine column with the raw text
    * preserved for replay — per-file error isolation, no coordination.
    * Corruption is planted deterministically (every doc_id ≡ 0 mod 13
    * gets its line truncated mid-token), so the oracle recomputes both
    * buckets exactly from the base table. */
  private val src09 = Q(
    "src09_jsonl_quarantine",
    """SELECT CASE WHEN doc_id % 13 = 0 THEN '(quarantined)' ELSE lang END AS bucket,
              count(*) AS n_rows,
              CAST(sum(CASE WHEN doc_id % 13 = 0 THEN 0 ELSE n_chars END) AS BIGINT) AS good_chars
       FROM documents GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val dir = tmp("graft_quarantine")
    val line = to_json(struct(col("doc_id"), col("lang"), col("n_chars")))
    Tables.documents(s, d)
      .select(when(col("doc_id") % 13 === 0,
          // truncated mid-record: the classic half-flushed crawl shard
          concat(lit("{\"doc_id\": "), col("doc_id").cast("string"), lit(", \"lan")))
        .otherwise(line).as("value"))
      .write.mode("overwrite").text(s"$dir/feed")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(s"$dir/feed")
      .select(when(col("_corrupt_record").isNotNull, lit("(quarantined)"))
          .otherwise(col("lang")).as("bucket"),
        when(col("_corrupt_record").isNotNull, lit(0L))
          .otherwise(col("n_chars")).as("nc"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(col("nc")).as("good_chars"))
      .orderBy("bucket")
  }

  /** Small-file compaction — the maintenance job every streaming/
    * incremental sink eventually owes the lake: a shard layout written
    * at many-records-per-file granularity (here src07's knob turned
    * down to force ~20× too many files) is rewritten partition-by-
    * partition into files sized for scan efficiency, preserving the
    * partitioning column and every row. The oracle pins content
    * identity against the base table; the FILE-COUNT contract (the
    * entire point of compaction — a 100 TB lake of 1 MB files spends
    * its scan time opening footers) is a layout property invisible to
    * SQL, so the spec asserts before/after counts directly.
    *
    * Scale shape: compaction is per-partition-subtree parallel (each
    * lang rewrites independently), reads once, writes once, and never
    * shuffles — `coalesce` only narrows the plan. */
  private val src10 = Q(
    "src10_compaction",
    """SELECT lang, count(*) AS n_rows,
              CAST(sum(n_chars) AS BIGINT) AS total_chars,
              min(doc_id) AS min_id, max(doc_id) AS max_id
       FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
    val dir = tmp("graft_compaction")
    // fragmented layout: the "month of micro-batches" starting point
    Tables.documents(s, d)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 25)
      .partitionBy("lang")
      .parquet(s"$dir/fragmented")
    // compact: one output file per partition subtree at this scale
    s.read.parquet(s"$dir/fragmented")
      .coalesce(1)
      .write.mode("overwrite")
      .partitionBy("lang")
      .parquet(s"$dir/compacted")
    s.read.parquet(s"$dir/compacted")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy("lang")
  }

  /** Morton (z-order) bit-interleave of two 16-bit-masked dimensions —
    * the multi-dimensional clustering key data lakes sort by so that a
    * 2-D selective predicate touches few files (Delta/Iceberg's OPTIMIZE
    * ZORDER, re-expressed as a plain codegen'd column expression: a fold
    * over bit positions, no UDF). */
  def zorder(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val xe = x.cast(LongType).bitwiseAND(lit(65535L))
    val ye = y.cast(LongType).bitwiseAND(lit(65535L))
    // unrolled over the 16 bit positions: a flat codegen'd arithmetic
    // expression (shift amounts must be Scala ints for the builtin)
    (0 until 16).map { i =>
      shiftleft(shiftright(xe, i).bitwiseAND(lit(1L)), 2 * i)
        .plus(shiftleft(shiftright(ye, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ + _)
  }

  /** Z-order clustered layout — the scan-locality feature that makes a
    * 2-D selective query cheap on a 100 TB lake: orders are range-
    * partitioned and sorted by the Morton interleave of (custkey,
    * order-date), so rows close in BOTH dimensions land in the same
    * files and a (customer-range × date-range) predicate touches a
    * handful of file bounding boxes instead of all of them (parquet
    * readers skip row groups by footer min/max — the file-level
    * bounding-box count the spec measures IS that skipping, made
    * visible). A 1-D sort gives the same locality in one dimension and
    * none in the other; the spec measures z-order strictly beating it
    * on box queries. The oracle pins content identity through the
    * rewrite (layout is invisible to SQL). */
  private val src11 = Q(
    "src11_zorder_layout",
    """SELECT o_orderpriority, count(*) AS n_orders,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    val dir = tmp("graft_zorder")
    Tables.orders(s, d)
      .withColumn("zkey", zorder(col("o_custkey"), datediff(col("o_orderdate"),
        lit("1992-01-01").cast("date"))))
      .repartitionByRange(8, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(s"$dir/orders_z")
    s.read.parquet(s"$dir/orders_z")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast(LongType)).as("total_cents"))
      .orderBy("o_orderpriority")
  }

  /** XML round-trip (Spark 4's built-in XML source, `rowTag`-framed) —
    * the feed-shaped interchange format crawl pipelines still ingest
    * (sitemaps, RSS/Atom, wiki dumps). Write an orders subset out as
    * XML, read it back with an EXPLICIT schema (XML schema inference is
    * a full extra pass over the data — never pay it at 100 TB), and
    * aggregate; the oracle computes the same aggregate straight from
    * parquet, so tag framing, escaping, or type-coercion drift fails
    * the hash. Money rides as integer cents: XML is a text format, so
    * floats would round-trip through decimal strings.
    *
    * Scale shape: the XML reader splits files by newline-delimited row
    * tags exactly like the JSON-lines reader — per-file parallel scan,
    * no global parse. */
  private val src12 = Q(
    "src12_xml_roundtrip",
    """SELECT o_orderpriority, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
       FROM orders WHERE o_orderkey < 5000
       GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, d) =>
    val dir = tmp("graft_xml")
    Tables.orders(s, d)
      .filter(col("o_orderkey") < 5000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .write.mode("overwrite")
      .option("rowTag", "order")
      .format("xml").save(s"$dir/orders_xml")
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("cents", LongType)))
    s.read.schema(schema).option("rowTag", "order").format("xml")
      .load(s"$dir/orders_xml")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"))
      .orderBy("o_orderpriority")
  }

  /** File-provenance metadata columns (`_metadata.file_path` /
    * `row_index`) — the hidden struct every file-based scan exposes, and
    * the lineage/debugging surface a curation pipeline leans on ("which
    * physical file did this bad row come from?"). The oracle cannot see
    * file paths, so the layout makes provenance DERIVABLE: the dataset
    * is written `repartition(col) + partitionBy(col)` — exactly ONE file
    * per partition value — so per-FILE facts equal per-VALUE facts: the
    * partition value regexp-extracted from `file_path` must round-trip,
    * and `max(row_index)` per file must equal that value's row count − 1
    * (row_index is file-local and 0-based). Any provenance-plumbing
    * drift — wrong file attribution, row_index not file-local — breaks
    * the hash.
    *
    * Scale shape: `_metadata` is populated by the scan itself (no join,
    * no extra I/O); the census is one partial-aggregated GROUP BY on the
    * 5-value key. */
  private val src13 = Q(
    "src13_file_metadata",
    """SELECT o_orderpriority AS prio_from_path, count(*) AS n,
              CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
              CAST(count(*) - 1 AS BIGINT) AS max_row_index
       FROM orders WHERE o_orderkey < 6000
       GROUP BY o_orderpriority ORDER BY prio_from_path""") { (s, d) =>
    val dir = tmp("graft_meta")
    Tables.orders(s, d).filter(col("o_orderkey") < 6000)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .repartition(col("o_orderpriority"))
      .write.mode("overwrite").partitionBy("o_orderpriority")
      .parquet(s"$dir/orders_meta")
    s.read.parquet(s"$dir/orders_meta")
      .select(
        // partition dirs URL-encode the value ('NOT%20SPECIFIED') — decode
        // to round-trip the original
        url_decode(regexp_extract(col("_metadata.file_path"),
          "o_orderpriority=([^/]+)", 1)).as("prio_from_path"),
        col("cents"), col("_metadata.row_index").as("ri"))
      .groupBy("prio_from_path")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total_cents"),
        max(col("ri")).as("max_row_index"))
      .orderBy("prio_from_path")
  }

  val defs: Seq[Q] = Seq(src01, src02, src03, src04, src05, src06, src07,
    src08, src09, src10, src11, src12, src13)
}
