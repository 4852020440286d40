package graft.queries

import graft.Tables.load
import graft.etl.{MySqlSink, WikiEtl, WikiXml}
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source/sink operators from SURVEY.md §2.B that are not plain parquet
  * scans: the raw-text dump source (A1–A3) and the MySQL JDBC sink
  * (A8–A11). Neither is oracle-able (env-dependent path / side effect),
  * so the driver records rows-only checks; EtlPipelineSpec and
  * MySqlSinkSpec carry the real assertions.
  */
object Sources {
  type Q = (SparkSession, String) => DataFrame

  /** Build-once (per dataset CONTENT) jar-deployed read-only Derby
    * snapshot of `customer` — shared by `q_source_jdbc_ro` and
    * ReadOnlyDerbySpec. Same column shape and DOUBLE acctbal as
    * `q_source_jdbc`'s table so the two rows share one oracle. Keyed by
    * `Tables.dataFingerprint`, not the dir path — a regenerated dataset
    * at the same path must rebuild, not serve the stale snapshot (the
    * same stale-store hazard ADVICE r18 closed for the probe stores). */
  def customerRoJar(s: SparkSession, d: String): String =
    graft.etl.ReadOnlyDerby.snapshot(
      load(s, d, "customer").select(col("c_custkey"), col("c_name"),
        col("c_mktsegment"), col("c_acctbal")),
      key = "customer_" + graft.Tables.dataFingerprint(s, d, Seq("customer")),
      table = "jdbc_customer",
      ddl = """CREATE TABLE jdbc_customer (
              |  c_custkey BIGINT NOT NULL,
              |  c_name VARCHAR(64) NOT NULL,
              |  c_mktsegment VARCHAR(16) NOT NULL,
              |  c_acctbal DOUBLE NOT NULL,
              |  PRIMARY KEY (c_custkey))""".stripMargin)

  /** Scratch dir for the format-roundtrip queries. SF-scoped (a
    * concurrent run at another SF must not clobber the data between the
    * eager write and the lazy read-back) AND JVM-scoped via
    * applicationId (ADVICE r15: two JVMs verifying the SAME dataset —
    * the multi-JVM sweep plus a local Verify — raced on
    * mode=overwrite of one fixed path). applicationId is stable within
    * a session, so re-runs in one JVM reuse (and cleanly overwrite)
    * their own path. */
  private def scratchDir(s: SparkSession, fmt: String, d: String): String = {
    val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val dir = s"/tmp/graft_source_${fmt}_${d.replaceAll("[^A-Za-z0-9]", "_")}_$app"
    registerScratchCleanup(dir)
    dir
  }

  /** JVM-exit cleanup of this process's OWN scratch dirs (ADVICE r16:
    * applicationId-keyed paths accumulated unboundedly across bench /
    * verify runs). One shutdown hook per distinct path, registered
    * idempotently; only paths THIS JVM minted are deleted — a startup
    * sweep of stale `graft_source_*` dirs would race the multi-JVM
    * verify sweep, whose sibling processes' dirs are live. */
  private val registeredScratch = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def registerScratchCleanup(dir: String): Unit =
    if (registeredScratch.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(dir))
      }))
    }

  /** A tiny pages-articles export, materialized once to the JVM temp dir
    * so the text source has a real file to stream — the same fixture
    * shape as src/test/resources/mini-wiki.xml. */
  private lazy val dumpPath: String = {
    val p = Paths.get(System.getProperty("java.io.tmpdir"), "graft-mini-wiki.xml")
    val xml =
      """<mediawiki>
        |  <page><title>Alpha</title><ns>0</ns><id>1</id>
        |    <revision><id>100</id><text>'''Alpha''' is a letter. {{Tmpl|x}} [[Beta|next]] &amp;amp;co.</text></revision></page>
        |  <page><title>Alif</title><ns>0</ns><id>2</id>
        |    <revision><id>101</id><text>#REDIRECT [[Alpha]]</text></revision></page>
        |  <page><title>Talk:Alpha</title><ns>1</ns><id>3</id>
        |    <revision><id>102</id><text>chatter</text></revision></page>
        |</mediawiki>
        |""".stripMargin
    Files.write(p, xml.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    p.toString
  }

  val queries: Map[String, Q] = Map(
    // CSV source/sink roundtrip: customer → headered CSV →
    // schema-inferred read-back. The oracle compares against the
    // parquet view directly, so a lossy roundtrip (quoting, type
    // inference, decimal text) fails the hash.
    "q_source_csv" -> ((s, d) => {
      val p = scratchDir(s, "csv", d)
      load(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .coalesce(1).write.mode("overwrite").option("header", "true").csv(p)
      s.read.option("header", "true").option("inferSchema", "true").csv(p)
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("c_name"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    // JSON-lines source/sink roundtrip, same oracle-against-parquet
    // contract (JSON numbers infer as BIGINT, strings pass through).
    // Avro roundtrip through the engine's own DataSource V2 connector
    // (sources/AvroSource.scala — splittable sync-marker reads, pruning
    // pushed into the decoder). Same oracle-against-parquet contract as
    // the csv/json roundtrips; Avro preserves types exactly, so no
    // casts. splitSize forces the read through >1 byte-range partition
    // even at sf0.01, so the oracled path exercises split reassembly.
    "q_source_avro" -> ((s, d) => {
      val p = scratchDir(s, "avro", d)
      graft.sources.AvroSource.write(
        load(s, d, "customer")
          .select(col("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"))
          .coalesce(1), p)
      s.read.format(classOf[graft.sources.AvroSource].getName)
        .option("splitSize", "65536").load(p)
        .orderBy("c_custkey")
    }),

    // Avro LOGICAL types (r19, VERDICT r18 #7): decimal + timestamp
    // roundtrip at the q_source_orc lossless bar. The price rides as
    // DECIMAL(18,6) — avro encodes the unscaled integer bytes, so the
    // roundtrip is exact by construction (a float detour would not be)
    // — and the order timestamp as (local-)timestamp-micros, Catalyst's
    // own internal resolution. splitSize 65536 forces multi-split reads
    // so split-exactness is preserved under the logical decoding.
    "q_source_avro_logical" -> ((s, d) => {
      val p = scratchDir(s, "avrolog", d)
      graft.sources.AvroSource.write(
        load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice").cast("decimal(18,6)").as("o_price_dec"))
          .coalesce(1), p)
      s.read.format(classOf[graft.sources.AvroSource].getName)
        .option("splitSize", "65536").load(p)
        .select(col("o_orderkey"),
          graft.Det.tstr(col("o_orderdate").cast("timestamp")).as("od_ts"),
          col("o_price_dec").cast("double").as("o_price_dec"))
        .orderBy("o_orderkey")
    }),

    // Avro NESTED types (r20, VERDICT r19 #4): array<float> (the
    // embeddings column — the shape a real corpus file carries), a
    // nested record, and a string-keyed map, round-tripped through the
    // writer and the split-planned reader under forced multi-split
    // reads (splitSize 65536). The embedding floats must come back
    // bit-exact (the avro float wire form IS IEEE 754), the nested
    // record fields and map values exactly. Map read-back is accessed
    // via element_at (avro decodes maps into hash order — only keyed
    // access is deterministic). The parquet embeddings table is the
    // oracle's source for every column, so a lossy roundtrip at any
    // nesting level fails the hash.
    "q_source_avro_nested" -> ((s, d) => {
      val p = scratchDir(s, "avronest", d)
      graft.sources.AvroSource.write(
        load(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            struct(col("label").as("lab"),
              (col("vec_id") % 7).as("grp")).as("meta"),
            map(lit("dim"), size(col("embedding")).cast("long"),
              lit("vid2"), col("vec_id") * 2).as("props"))
          .coalesce(1), p)
      s.read.format(classOf[graft.sources.AvroSource].getName)
        .option("splitSize", "65536").load(p)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("n_dim"),
          element_at(col("embedding"), 1).as("e1"),
          element_at(col("embedding"), -1).as("e_last"),
          col("meta.lab").as("lab"), col("meta.grp").as("grp"),
          element_at(col("props"), "dim").as("p_dim"),
          element_at(col("props"), "vid2").as("p_vid2"))
        .orderBy("vec_id")
    }),

    "q_source_json" -> ((s, d) => {
      val p = scratchDir(s, "json", d)
      load(s, d, "nation").coalesce(1).write.mode("overwrite").json(p)
      s.read.json(p)
        .select(col("n_nationkey").cast("long").as("n_nationkey"),
          col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    // ORC source/sink roundtrip (columnar alternative to parquet, the
    // interchange format a warehouse migration hits): supplier → ORC →
    // read-back, same oracle-against-parquet contract. ORC keeps exact
    // types (no inference step), so the roundtrip must be lossless
    // including the decimal account balance.
    "q_source_orc" -> ((s, d) => {
      val p = scratchDir(s, "orc", d)
      load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
          col("s_acctbal"))
        .write.mode("overwrite").orc(p)
      s.read.orc(p)
        .select(col("s_suppkey").cast("long").as("s_suppkey"), col("s_name"),
          col("s_nationkey").cast("long").as("s_nationkey"), col("s_acctbal"))
        .orderBy("s_suppkey")
    }),

    // Hive-partitioned parquet layout — THE first-class 100 TB layout
    // primitive (a corpus lands partitioned by lang/date/source so a
    // one-partition query reads one directory, not the corpus). Writes
    // documents partitioned by lang, reads back with a lang predicate;
    // PlanSpec asserts the predicate lands in the scan's
    // PartitionFilters (directory pruning at PLANNING time — zero
    // bytes of the other partitions are opened) and that lang is NOT
    // in the data ReadSchema (it exists only as a directory name).
    // The oracle compares against the unpartitioned parquet view, so a
    // lossy roundtrip (partition-value escaping, type inference on the
    // partition column) fails the hash.
    "q_source_partitioned" -> ((s, d) => {
      val p = scratchDir(s, "part", d)
      load(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .write.mode("overwrite").partitionBy("lang").parquet(p)
      s.read.parquet(p)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // A1–A3: raw text streamed per <page>, fields extracted, ns filter.
    "q_source_text" -> ((s, _) =>
      WikiXml.pages(s, dumpPath)
        .select(col("aid"), col("title"), length(col("text")).cast("long").as("text_len"))
        .orderBy("aid")),

    // A1–A3 through the DataSource V2 connector
    // (graft.sources.WikiDumpSource): same dump and fields, but planned
    // as one partition per file with column pruning pushed into the
    // reader. Row-for-row equality with WikiXml's scan is pinned in
    // WikiDumpSourceSpec; the rows-only driver check sees the same
    // output shape as q_source_text.
    "q_source_wikidump" -> ((s, _) =>
      s.read.format(classOf[graft.sources.WikiDumpSource].getName)
        .load(dumpPath)
        .filter(col("ns") === 0)
        .select(col("aid"), col("title"), length(col("text")).cast("long").as("text_len"))
        .orderBy("aid")),

    // JDBC as a first-class SOURCE — the reverse direction of
    // q_sink_jdbc and the missing half of the reference's surface: its
    // entire query story is SQL over the MySQL it writes
    // (/root/reference/README.md:47-54). customer goes in via the same
    // bootstrap→append machinery, then comes back as FOUR
    // range-partitioned JDBC scans (parallel-ingest shape: at scale the
    // partition count rides the id range so no single connection drains
    // the table) with the filter pushed INTO the database —
    // MySqlSinkSpec asserts PushedFilters on the JDBC relation and the
    // 4-way split. c_acctbal stays DOUBLE end-to-end so the roundtrip
    // is bit-exact against the parquet oracle.
    "q_source_jdbc" -> ((s, d) => {
      val url = s"jdbc:derby:memory:graft_src_${d.replaceAll("[^A-Za-z0-9]", "_")};create=true"
      try MySqlSink.bootstrap(url, "app", "app", Seq("DROP TABLE jdbc_customer"))
      catch { case _: java.sql.SQLException => () }
      MySqlSink.bootstrap(url, "app", "app", Seq(
        """CREATE TABLE jdbc_customer (
          |  c_custkey BIGINT NOT NULL,
          |  c_name VARCHAR(64) NOT NULL,
          |  c_mktsegment VARCHAR(16) NOT NULL,
          |  c_acctbal DOUBLE NOT NULL,
          |  PRIMARY KEY (c_custkey))""".stripMargin))
      MySqlSink.writer(
        load(s, d, "customer").select(col("c_custkey"), col("c_name"),
          col("c_mktsegment"), col("c_acctbal")),
        url, "jdbc_customer", "app", "app").save()
      s.read.format("jdbc")
        .option("url", url).option("dbtable", "jdbc_customer")
        .option("user", "app").option("password", "app")
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", "0").option("upperBound", "200000")
        .option("numPartitions", "4")
        .load()
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 1000.0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // The multi-JVM form of the JDBC source: the same 4-way
    // range-partitioned scan with the same pushed filter, but against a
    // jar-deployed READ-ONLY Derby snapshot (ReadOnlyDerby class doc) —
    // the one embedded-Derby deployment real executor JVMs can open
    // concurrently, so this row runs (and is hash-oracled) under the
    // local-cluster sweep, where q_source_jdbc's per-JVM
    // `jdbc:derby:memory:` database cannot exist. At scale both rows are
    // the same operator against a network database server; this one
    // proves the executor-side read path on real executor JVMs.
    "q_source_jdbc_ro" -> ((s, d) => {
      val jar = customerRoJar(s, d)
      s.read.format("jdbc")
        .option("url", graft.etl.ReadOnlyDerby.url(jar))
        .option("dbtable", "jdbc_customer")
        .option("user", "app").option("password", "app")
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", "0").option("upperBound", "200000")
        .option("numPartitions", "4")
        .load()
        .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 1000.0)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .orderBy("c_custkey")
    }),

    // A8–A11 end-to-end: the full ETL feeding the JDBC sink for real —
    // bootstrap DDL (Derby dialect: no MySQL server in this image, same
    // Spark JDBC write machinery), append bodies then articles, then
    // READ BACK over JDBC; the reported counts are the readback, so a
    // silent write failure cannot pass. MySqlSinkSpec adds FK checks.
    "q_sink_jdbc" -> ((s, _) => {
      val out = WikiEtl.run(s, dumpPath)
      val url = "jdbc:derby:memory:graft_sink;create=true"
      MySqlSink.derbyReset(url, "app", "app")
      MySqlSink.bootstrap(url, "app", "app", MySqlSink.derbyDdl)
      MySqlSink.writer(out.bodies, url, "bodies", "app", "app").save()
      MySqlSink.writer(out.articles, url, "articles", "app", "app").save()
      def readback(table: String): Long =
        s.read.format("jdbc").option("url", url)
          .option("dbtable", table).option("user", "app")
          .option("password", "app").load().count()
      val nBodies = readback("bodies")
      val nArticles = readback("articles")
      out.cleanup() // release the pipeline's caches on this shared session
      s.range(1).select(
        lit(url).as("url"),
        lit("articles").as("table"),
        lit(5000L).as("batchsize"),
        lit(nArticles).as("n_articles"),
        lit(nBodies).as("n_bodies"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q_source_csv" ->
      """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_source_avro" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_source_avro_logical" ->
      """SELECT o_orderkey, STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_ts,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE) AS o_price_dec
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_source_avro_nested" ->
      """SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS n_dim,
        |  embedding[1] AS e1, embedding[-1] AS e_last,
        |  label AS lab, vec_id % 7 AS grp,
        |  CAST(LEN(embedding) AS BIGINT) AS p_dim, vec_id * 2 AS p_vid2
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_source_json" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |  CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "q_source_orc" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
        |  CAST(s_nationkey AS BIGINT) AS s_nationkey, s_acctbal
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "q_source_jdbc" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
        |ORDER BY c_custkey""".stripMargin,
    "q_source_jdbc_ro" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer
        |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
        |ORDER BY c_custkey""".stripMargin,
    "q_source_partitioned" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin
  )
}
