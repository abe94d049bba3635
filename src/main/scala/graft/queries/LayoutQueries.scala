package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Relational
import graft.text.TextOps
import QueryShared._

/** Formats, layout and curation: CSV/ORC/XML/WARC round
trips, corpus scan, bucketed/salted joins, Z-order, compaction, schema
evolution, partitioned writes, sampling, packing, mixture/DSIR, web curation,
graph (PageRank/triangles), multimodal and sketch diagnostics.
  *
  * Extracted verbatim from the original single-file SparkEntry map; see
  * [[graft.SparkEntry]] for the driver contract these entries satisfy
  * (column names aligned with the DuckDB oracle SQL pairwise).
  */
object LayoutQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // S3+S6+P10+J1 end-to-end, oracle-checked: parquet → CSV sink →
    // explicit-schema CSV scan → left-outer customer-name join →
    // two-digit-year date parse with the POSIX century pivot. The CSV
    // round trip is the Spark side only; the oracle replays the same
    // format→parse on the parquet directly (DuckDB strptime's %y carries
    // the identical 69/68 pivot), so a hash match proves the round trip
    // lossless AND the pivot semantics equal.
    "q41_csv_roundtrip" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val out = new java.io.File("target/tmp/q41_csv").getAbsolutePath
      sources.Sources.writeCsv(
        Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          date_format(col("o_orderdate"), "MM/dd/yy").as("odate_s")),
        out)
      val back = sources.Sources.csv(s, out,
        StructType(Seq(
          StructField("o_orderkey", LongType),
          StructField("o_custkey", LongType),
          StructField("odate_s", StringType))),
        header = true)
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"))
      back.join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("c_name"),
          sources.Sources.toDateMMDDYY(col("odate_s")).as("o_date"))
    }),


    // training-pipeline: text canonicalization (accent fold + lower +
    // whitespace collapse). The fixture corpus is ASCII, so accented
    // input is constructed deterministically — BOTH precomposed (é) and
    // combining-mark (e + U+0301) forms, exercising the NFD path
    "q60_canonicalize" -> ((s, dir) =>
      Tables.documents(s, dir).select(col("doc_id"),
        text.TextOps.canonicalizeText(
          // explicit forms: precomposed \u00e9, combining \u0308 (NAÏVE)
          // and \u0301 (étude) — the fold must converge precomposed and
          // NFD inputs; the oracle mixes the forms the other way around
          concat(lit("Caf\u00e9  NAI\u0308VE e\u0301tude:\t"), col("text"))).as("norm_text"))),


    // graph analytics: exact-integer PageRank on the customer↔supplier
    // trade graph (parity-disjoint node ids) — 5 fixed BIGINT rounds, so
    // the iterative kernel is hash-checkable against the oracle's
    // unrolled recurrence, not just tolerance-compared
    "q69_pagerank" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
      val pairs = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      ops.Graph.pageRankInt(edges, iters = 5)
    }),


    // S1+P16 end-to-end, oracle-checked: documents staged as REAL text
    // files named <date>_<cik>_doc.txt (driver-side fixture staging, like
    // q41's CSV), then the whole-file binary scan + filename-key parse
    // reads them back; the oracle recomputes the keys and char counts
    // from the parquet directly — a hash match proves the file round trip
    // and the path parsing both exact.
    "q46_corpus_scan" -> ((s, dir) => {
      val sub = Tables.documents(s, dir)
        .filter(col("doc_id") % 10 === 0 && col("text").isNotNull)
        .select(col("doc_id"), col("text"))
        .collect() // bounded fixture staging (|docs|/10 small files)
      val base = new java.io.File("target/tmp/q46_corpus")
      if (base.exists()) base.listFiles().foreach(_.delete())
      base.mkdirs()
      sub.foreach { r =>
        val id = r.getLong(0)
        java.nio.file.Files.write(
          new java.io.File(base, s"${20000101L + id}_${id}_doc.txt").toPath,
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      sources.Sources.corpusWithKeys(s, base.getAbsolutePath)
        .select(col("cik").cast("long").as("doc_id"),
          col("report_date_raw"),
          length(col("text")).cast("long").as("n_chars"))
    }),


    // training-pipeline: GPT-style sequence packing — the corpus token
    // stream concatenated in doc_id order and cut every 512 tokens; per
    // doc its [start,end) offsets and first/last chunk. Two-phase bucketed
    // cumsum (NO single-partition global window — see Packing scaladoc);
    // the oracle states the naive global-window form and hash-matches,
    // proving the parallel decomposition exact.
    "q72_seq_pack" -> ((s, dir) =>
      llm.Packing.packOffsets(
        Tables.documents(s, dir), "doc_id",
        size(TextOps.tokens(col("text"))).cast("long"),
        budget = 512L)),


    // EXACT heavy hitters (tokens with freq > N/100) via Misra–Gries
    // sketch + candidate-only recount — the intermediate sketch is
    // partition-dependent but the output is exact, so it hash-matches a
    // plain HAVING oracle. No full-vocabulary shuffle at any scale.
    "q74_heavy_hitters" -> ((s, dir) =>
      Relational.heavyHitters(
        Tables.documents(s, dir)
          .select(explode(TextOps.tokens(col("text"))).as("token")),
        "token", k = 100)),


    // training-pipeline: deterministic k-per-stratum subsample — exactly
    // 20 docs per language, chosen by md5 order (a seeded reservoir
    // equivalent that is a pure function of the key: same pick on any
    // cluster, any partitioning, any engine)
    "q77_group_sample" -> ((s, dir) =>
      Relational.groupedTopK(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          md5(col("doc_id").cast("string")).as("h")),
        Seq("lang"), "h", "doc_id", k = 20, descending = false)
        .select(col("doc_id"), col("lang"))),


    // graph analytics third member: per-vertex TRIANGLE counts on the
    // co-supplier graph (suppliers sharing a high-quantity order) —
    // degree-oriented wedge closure, each triangle found once, wedge work
    // bounded by O(√m) outdegrees (never the hub-vertex C(deg,2) blow-up)
    "q92_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      ops.Graph.triangleCounts(e)
    }),


    // Per-node CLUSTERING COEFFICIENT (round 12) — q92's triangle counts
    // normalized into the local-density read every graph audit wants:
    // cc = 2·T_v·10⁶ div (d·(d−1)) over the SAME thresholded co-supply
    // graph (degree from the distinct undirected edge set; isolated
    // triangle-free nodes ride the left join with cc 0). The degree-
    // ordered wedge counting stays inside Graph.triangleCounts — this
    // adds only the degree rollup and one key-equi join on the node
    // grain, plus the corpus mean as the keys=[] scalar broadcast.
    "q440_clustering_coeff" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_quantity") > 45)
        .select(col("l_orderkey"), col("l_suppkey"))
      val e = li.alias("x").join(li.alias("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .select(col("x.l_suppkey").as("src"), col("y.l_suppkey").as("dst"))
      val und = e.select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .localCheckpoint(true)
      val deg = und.select(col("a").as("node"))
        .unionByName(und.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
      val cc = deg
        .join(ops.Graph.triangleCounts(e), Seq("node"), "left_outer")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .withColumn("cc_ppm", expr(
          "case when d >= 2 then 2 * n_tri * 1000000 div (d * (d - 1)) " +
            "else 0 end"))
        .localCheckpoint(true)
      cc.crossJoin(broadcast(cc
        .agg(sum(col("cc_ppm")).as("s"), count(lit(1)).as("k"))
        .select(expr("s div k").as("mean_cc_ppm"))))
    }),


    // training-pipeline: WEIGHTED k-per-language sampling (Efraimidis–
    // Spirakis keyed by a content-addressed uniform) — longer docs more
    // likely picked, the pick a pure function of (doc_id, n_tok); the
    // sampling-family fourth member next to rate (q59), uniform-k (q77)
    // and budget (q80)
    "q81_weighted_sample" -> ((s, dir) =>
      Relational.weightedGroupSample(
        Tables.documents(s, dir), "lang", "doc_id",
        size(TextOps.tokens(col("text"))).cast("long"), k = 15)),


    // S5/S6 sibling for ORC: orders staged through the ORC sink/scan, then
    // aggregated — the oracle reads the original parquet, so a hash match
    // proves the ORC round trip value-exact (q41's contract, second format)
    "q75_orc_roundtrip" -> ((s, dir) => {
      val out = new java.io.File("target/tmp/q75_orc").getAbsolutePath
      sources.Sources.writeOrc(
        Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus"),
          floor(col("o_totalprice")).cast("long").as("price_i")),
        out)
      sources.Sources.orc(s, out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_i")).as("sum_price_i"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
    }),


    // Bucketed CO-LOCATED join, driver-checked: both fact tables written
    // bucketed on the join key (pay the shuffle once at write time), then
    // joined AND aggregated on that key straight from the bucketed
    // layout — the executed plan has ZERO hash exchanges (PlanAuditSpec):
    // the scan's bucket partitioning serves the join's and the agg's
    // distribution alike. This is the repeatedly-joined-fact story at
    // 100 TB — the shuffle a daily pipeline would otherwise re-pay per
    // run is amortized into the table layout. The oracle replays the
    // join+agg over the ORIGINAL parquet, so a hash match also proves
    // the bucketed round trip value-exact (q41/q75's contract, third
    // layout).
    "q95_bucketed_join" -> ((s, dir) => {
      // the warehouse dir outlives the in-memory catalog across JVM
      // runs — clear stale locations or saveAsTable refuses the name
      val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
      for (t <- Seq("q95_orders_b", "q95_lineitem_b")) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(new java.io.File(wh.getPath), t)
        if (loc.exists()) {
          import scala.reflect.io.Directory
          new Directory(loc).deleteRecursively()
        }
      }
      sources.Sources.writeBucketed(
        Tables.orders(s, dir).select(
          col("o_orderkey").cast("long").as("o_orderkey"), col("o_orderstatus")),
        "q95_orders_b", Seq("o_orderkey"))
      sources.Sources.writeBucketed(
        Tables.lineitem(s, dir).select(
          col("l_orderkey").cast("long").as("l_orderkey"), col("l_quantity")),
        "q95_lineitem_b", Seq("l_orderkey"))
      s.table("q95_orders_b")
        .join(s.table("q95_lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          Relational.exactSum(col("l_quantity")).as("sum_qty"))
    }),


    // Skew-salted join, driver-checked: the hot-key mitigation (spread the
    // left side over saltFactor sub-keys, replicate the right side once
    // per sub-key) must be RESULT-INVISIBLE — the oracle replays the
    // plain join, so a hash match proves salting changes the schedule,
    // never the answer. The salt comes from monotonically_increasing_id:
    // any instance assignment is correct, which is exactly why the result
    // is partition-independent.
    "q96_salted_join" -> ((s, dir) =>
      Relational.saltedJoin(
        Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity")),
        Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus")),
        "l_orderkey", "o_orderkey", saltFactor = 8)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          Relational.exactSum(col("l_quantity")).as("sum_qty"))),


    // Z-order clustered layout (the multi-column data-skipping lever):
    // write the fact slice clustered on the Morton interleave of
    // min-max-scaled (l_partkey, l_suppkey), read it back from the
    // clustered files, and return each row's z-value recomputed over the
    // round-tripped rows. Scaling and interleave are IEEE-exact double ops
    // + pure bit arithmetic — the oracle recomputes them bit-for-bit —
    // and the round trip proves the layout write loses/duplicates
    // nothing. The LAYOUT property itself (pruning-grade min/max bands on
    // BOTH dimensions, vs a plain sort's one) is pinned by SourcesSpec.
    "q101_zorder" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
      sources.Sources.writeZOrdered(li, predsPath("q101_zli"),
        Seq("l_partkey", "l_suppkey"), bits = 16, numFiles = 8)
      val back = s.read.parquet(predsPath("q101_zli"))
      val stats = back.agg(
        min(col("l_partkey")).cast("double").as("pmin"),
        max(col("l_partkey")).cast("double").as("pmax"),
        min(col("l_suppkey")).cast("double").as("smin"),
        max(col("l_suppkey")).cast("double").as("smax"))
      back.crossJoin(broadcast(stats))
        .select(col("l_orderkey"), col("l_linenumber"),
          sources.Sources.mortonCode(Seq(
            sources.Sources.scaleToBits(col("l_partkey"), col("pmin"), col("pmax"), 16),
            sources.Sources.scaleToBits(col("l_suppkey"), col("smin"), col("smax"), 16)),
            bits = 16).as("zval"))
    }),


    // training-pipeline: DSIR importance weights — every doc scored by the
    // unigram log-likelihood ratio of target (lang='en') vs the raw pool,
    // deterministic top-50 selection; the data-MIXTURE member of the
    // curation family (sampling: q59/q77/q80/q81; quality: q19/q76).
    "q104_dsir_weights" -> ((s, dir) =>
      llm.Dsir.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        col("lang") === "en", k = 50,
        // corpus×token-grain tf stages to parquet: replayable after
        // executor loss, not pinned in memory (r15, r14 VERDICT #3)
        materializeTf = df => QueryShared.stageFrame(df, "q104_tf"))),


    // Spark-4 native XML source round trip (format("xml") is built into
    // spark-sql 4.x): write orders as <order> rows, read back with an
    // explicit schema — the oracle reads the ORIGINAL table, so the hash
    // match pins writer+parser inverse-ness incl. exact double round trip
    // (shortest-repr write, exact parse)
    "q124_xml_roundtrip" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"))
      val stage = predsPath("q124_xml")
      o.write.mode("overwrite").format("xml")
        .option("rootTag", "orders").option("rowTag", "order").save(stage)
      s.read.format("xml").option("rowTag", "order")
        .schema(o.schema).load(stage)
    }),


    // small-file compaction round trip: 64-way fragmented lineitem
    // rewritten as 4 range-sorted files — content identical (oracle reads
    // the ORIGINAL table), layout assertions in SourcesSpec
    "q123_compaction" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
      sources.Sources.writeParquet(li.repartition(64), predsPath("q123_frag"))
      sources.Sources.compact(s, predsPath("q123_frag"),
        predsPath("q123_compacted"), sortCols = Seq("l_orderkey", "l_linenumber"),
        numFiles = 4)
    }),

    // parquet layout audit: per (file, row group, column) value counts
    // and compressed/uncompressed sizes read from the footers by a
    // distributed one-file-per-task pass — the "which column is the
    // table" storage observability primitive. Oracle = DuckDB's
    // parquet_metadata() over the SAME files: two independent footer
    // readers must agree byte-for-byte.
    "q134_parquet_stats" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"), col("l_shipdate"))
      sources.Sources.writeSorted(li, predsPath("q134_table"),
        sortCols = Seq("l_orderkey", "l_linenumber"), numFiles = 4)
      sources.Sources.parquetColumnStats(s, predsPath("q134_table"))
    }),

    // partition-selective compaction — q123's maintenance chore scoped to
    // a hive-partitioned table: events staged with UNEVEN per-bucket
    // fragmentation (bucket b gets b+1 single-file appends — the shape an
    // incremental ingest leaves behind), then only the >maxFiles buckets
    // rewritten in place; cold buckets keep their exact files
    // (SourcesSpec pins the selectivity). Content-invariant: the oracle
    // reads the ORIGINAL table.
    "q129_partition_compaction" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .withColumn("kb", sources.Sources.keyBucket(Seq("user_id"), 8))
      val root = predsPath(s"q129_root_${System.nanoTime()}")
      for (i <- 0 to 7)
        ev.filter(col("kb") >= i && expr(s"pmod(event_id, kb + 1) = $i"))
          .repartition(1).write.mode("append").partitionBy("kb").parquet(root)
      sources.Sources.compactPartitions(s, root, "kb",
        sortCols = Seq("event_id"), maxFiles = 4, numFiles = 1)
      s.read.parquet(root)
        .select(col("event_id"), col("user_id"), col("value"))
    }),


    // schema-evolution read: two parquet generations (v2 adds a column),
    // one mergeSchema scan — v1 rows surface NULL for the late column,
    // exactly DuckDB's union_by_name over the same files
    "q120_schema_evolution" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      sources.Sources.writeParquet(
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice")),
        predsPath("q120_v1"))
      sources.Sources.writeParquet(
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")),
        predsPath("q120_v2"))
      s.read.option("mergeSchema", "true")
        .parquet(predsPath("q120_v1"), predsPath("q120_v2"))
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    }),


    // temperature-scaled training-mixture allocation (p_g ∝ tokens_g^(1/2),
    // Hamilton largest-remainder rounding sums EXACTLY to the budget)
    "q119_mixture" -> ((s, dir) =>
      llm.Mixture.temperatureAllocation(
        Tables.documents(s, dir), "lang",
        size(TextOps.tokens(col("text"))).cast("long"), budget = 100000L)),


    // HTML→text extraction over a staged HTML fixture (entity-escaped
    // documents text wrapped in title/style/script/comment noise): both
    // engines run the SAME RE2-safe extraction chain over the same stored
    // bytes, so the hash match pins the extractor's cross-engine semantics
    "q113_html_extract" -> ((s, dir) => {
      val html = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          lit("<html><!-- fixture --><head><title>doc "), col("doc_id"),
          lit("</title><style>p{color:red}</style></head><body><h1>"),
          upper(col("lang")), lit("</h1><p>"),
          web.WebOps.escapeHtml(col("text")),
          lit("</p><script>var x=\"<p>no</p>\";</script></body></html>"))
          .as("html"))
      sources.Sources.writeParquet(html, predsPath("q113_html"))
      s.read.parquet(predsPath("q113_html"))
        .select(col("doc_id"), web.WebOps.htmlToText(col("html")).as("text"))
    }),


    // per-domain document cap (the C4/RefinedWeb crawl-curation step):
    // tracking-decorated mixed-case URLs → canonical form → registrable
    // domain (eTLD+1, incl. co.uk-style second-level suffixes) → keep the
    // k lowest doc_ids per domain. The oracle re-derives everything from
    // scratch in SQL — an independent formulation of both URL ops.
    "q114_domain_cap" -> ((s, dir) => {
      val url = concat(lit("HTTPS://WWW."), col("source"),
        when(col("doc_id") % 3 === 0, lit(".com"))
          .when(col("doc_id") % 3 === 1, lit(".co.uk"))
          .otherwise(lit(".org")),
        lit(":443/p/"), col("doc_id"),
        lit("?utm_source=feed&id="), col("doc_id"), lit("&utm_c=x#frag"))
      val norm = Tables.documents(s, dir)
        .select(col("doc_id"), web.WebOps.normalizeUrl(url).as("url_norm"))
        .withColumn("domain", web.WebOps.registrableDomain(col("url_norm")))
      Relational.groupedTopK(norm, Seq("domain"), "doc_id", "doc_id",
          k = 5, descending = false)
        .select(col("domain"), col("doc_id"), col("url_norm"),
          col("rank").cast("long").as("rank"))
    }),


    // WARC round trip: serialize documents as spec-shaped response
    // records (deterministic IDs/date), parse them back with the
    // Content-Length-driven scanner — the oracle reads the ORIGINAL
    // documents table, so a hash match proves parse(serialize(x)) == x
    // byte-for-byte including multi-byte UTF-8 octet accounting.
    "q112_warc_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .selectExpr("concat('https://corpus.local/doc/', doc_id) AS uri", "text")
      sources.Warc.writeWarc(docs, "uri", "text", predsPath("q112_warc"))
      sources.Warc.warcRecords(s, predsPath("q112_warc"))
        .filter(col("warc_type") === "response")
        .selectExpr(
          "CAST(regexp_extract(target_uri, '([0-9]+)$', 1) AS BIGINT) AS doc_id",
          "payload_text AS text",
          "CAST(octet_length(payload) AS BIGINT) AS n_bytes")
    }),


    // North-star multimodal: synthetic binary assets -> per-modality
    // feature stats. ALL modalities are REAL decodes of public formats:
    // 24-bit BMP + baseline JPEG (channel means over actual pixels — the
    // JPEG payloads are real entropy-coded T.81 streams, distinguished
    // from BMPs by content alone), PCM16 WAV (stats over actual samples),
    // YUV4MPEG2 (stats over actual luma planes). n_decoded == n_assets in
    // the image row proves the compressed path decodes, not just parses.
    // Round-11 serve split (the q91 recipe — previously no_oracle): the
    // DECODE half persists per-asset rows (asset_id, modality, decoded,
    // features) — the codecs stay spec-pinned (JpegSpec javax.imageio
    // differential, MultimodalSpec) — and the modality ROLLUP is pure
    // relational work both engines replay over the stored doubles:
    // per-asset energy = Σ floor(x²·10⁶) (per-ELEMENT quantization, so
    // the sum is exact integer algebra — no cross-engine float-fold
    // order dependence), then count/sum/div per modality.
    "q26_multimodal_stats" -> ((s, dir) => {
      val perAsset = multimodal.Multimodal.decodeFeatures(
          multimodal.Multimodal.syntheticAssets(s, 2000).unionByName(
            multimodal.Multimodal.syntheticJpegAssets(s, 500)))
        .select(col("asset_id"), col("modality"),
          (col("modality") === "image" && col("img").isNotNull ||
            col("modality") === "audio" && col("aud").isNotNull ||
            col("modality") === "video" && col("vid").isNotNull)
            .cast("long").as("decoded"),
          col("features"))
      sources.Sources.writeParquet(perAsset, predsPath("q26_assets"))
      s.read.parquet(predsPath("q26_assets"))
        .withColumn("energy_q",
          expr("""aggregate(features, cast(0 as bigint), (a, x) ->
                    a + cast(floor(x * x * 1000000) as bigint))"""))
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("decoded")).as("n_decoded"),
          sum(col("energy_q")).as("sum_energy_q"),
          expr("sum(energy_q) div count(1)").as("avg_energy_q"))
    }),


    // VIDEO temporal analysis at FRAME grain (the q26/q91 serve split
    // one level deeper): videoFrameFeatures decodes each Y4M asset to
    // one row per frame (codegen'd fixed-size luma slice, explode fans
    // out WITHIN partitions — no shuffle) and the per-frame µ-quantized
    // mean luma persists once; the oracle replays the TEMPORAL read —
    // per-asset inter-frame jump series (lag over frame order), total
    // and peak jump, and the argmin peak frame — over the stored rows.
    // The scene-cut signal a frame-level curation model thresholds.
    "q411_video_frame_jumps" -> ((s, dir) => {
      val vids = multimodal.Multimodal.syntheticAssets(s, 600)
        .filter(col("modality") === "video")
      val perFrame = multimodal.Multimodal.videoFrameFeatures(vids)
        .select(col("asset_id"),
          col("frame_no").cast("long").as("frame_no"),
          floor(element_at(col("features"), 1) * 1e6).cast("long")
            .as("mean_q"))
      sources.Sources.writeParquet(perFrame, predsPath("q411_frames"))
      val f = s.read.parquet(predsPath("q411_frames"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("asset_id")).orderBy(col("frame_no"))
      val j = f.withColumn("jump",
        abs(col("mean_q") - lag(col("mean_q"), 1).over(w)))
      val g = j.groupBy(col("asset_id"))
        .agg(count(lit(1)).as("n_frames"),
          coalesce(sum(col("jump")), lit(0L)).as("sum_jump_q"),
          max(col("jump")).as("max_jump_q"))
      val peak = j
        .join(g.select(col("asset_id"), col("max_jump_q")), Seq("asset_id"))
        .filter(col("jump") === col("max_jump_q"))
        .groupBy(col("asset_id"))
        .agg(min(col("frame_no")).as("peak_frame"))
      g.join(peak, Seq("asset_id"), "left_outer")
        .select(col("asset_id"), col("n_frames"), col("sum_jump_q"),
          col("max_jump_q"), col("peak_frame"))
    }),


    // ViT-style image PATCH GRID (round 12) — the spatial member of the
    // temporal family (q411 frames, q414 windows): each decoded BMP runs
    // through the REAL nearest-neighbor resize kernel (RgbResize, 8×6 →
    // 4×3 — one representative pixel per patch, the patch-embedding
    // precursor shape), per-patch integer luma (299r+587g+114b milli
    // weights over hex-extracted bytes — codegen'd, no UDF) persists
    // ONCE, and the serve replays per-asset patch contrast plus
    // horizontal/vertical gradient energy relationally from the stored
    // grid. Decode + resize + explode all stay within partitions; the
    // serve joins are keyed on (asset, row/col) at the 12-patch grain.
    "q437_image_patch_grid" -> ((s, dir) => {
      val imgs = multimodal.Multimodal.syntheticAssets(s, 2000)
        .filter(col("modality") === "image")
        .withColumn("img", graft.exprapi.bmpDecode(col("content")))
        .filter(col("img").isNotNull)
        .withColumn("grid", graft.exprapi.rgbResize(col("img.rgb"),
          col("img.w"), col("img.h"), 4, 3))
      def byteAt(off: String): String =
        s"cast(conv(hex(substring(grid, cast($off as int), 1)), 16, 10) as bigint)"
      val patches = imgs
        .select(col("asset_id"),
          explode(sequence(lit(0L), lit(11L))).as("p"), col("grid"))
        .select(col("asset_id"), expr("p div 4").as("prow"),
          expr("p % 4").as("pcol"),
          expr(s"299 * ${byteAt("p * 3 + 1")} + 587 * ${byteAt("p * 3 + 2")}" +
            s" + 114 * ${byteAt("p * 3 + 3")}").as("luma_milli"))
      sources.Sources.writeParquet(patches, predsPath("q437_patches"))
      val st = s.read.parquet(predsPath("q437_patches"))
      val base = st.groupBy(col("asset_id"))
        .agg(count(lit(1)).as("n_patches"),
          (max(col("luma_milli")) - min(col("luma_milli")))
            .as("contrast_milli"))
      val hg = st.as("a").join(st.as("b"),
          col("a.asset_id") === col("b.asset_id")
            && col("a.prow") === col("b.prow")
            && col("b.pcol") === col("a.pcol") + 1)
        .groupBy(col("a.asset_id").as("asset_id"))
        .agg(sum(abs(col("a.luma_milli") - col("b.luma_milli")))
          .as("h_grad_milli"))
      val vg = st.as("a").join(st.as("b"),
          col("a.asset_id") === col("b.asset_id")
            && col("a.pcol") === col("b.pcol")
            && col("b.prow") === col("a.prow") + 1)
        .groupBy(col("a.asset_id").as("asset_id"))
        .agg(sum(abs(col("a.luma_milli") - col("b.luma_milli")))
          .as("v_grad_milli"))
      base.join(hg, Seq("asset_id")).join(vg, Seq("asset_id"))
    }),


    // AUDIO temporal analysis at WINDOW grain — q411's WAV twin
    // (round-11 VERDICT next #4), completing modality symmetry (video
    // had a temporal read, audio was whole-asset-only):
    // audioWindowFeatures decodes each PCM16 clip to one row per
    // 32-sample window (codegen'd fixed-size byte slice, explode fans
    // out WITHIN partitions — no shuffle) and the per-window µ-quantized
    // RMS + ZCR persist once; the oracle replays the TEMPORAL read —
    // per-asset inter-window energy-jump series, peak-jump argmin, mean
    // ZCR, and low-energy segmentation (below-threshold window count +
    // gaps-and-islands run count, the silence-trimming signal an audio
    // curation pass thresholds) — over the stored rows.
    "q414_audio_window_energy" -> ((s, dir) => {
      val auds = multimodal.Multimodal.syntheticAssets(s, 600,
          payloadBlocks = 64)
        .filter(col("modality") === "audio")
      val perWin = multimodal.Multimodal
        .audioWindowFeatures(auds, windowSamples = 32)
        .select(col("asset_id"),
          col("win_no").cast("long").as("win_no"),
          floor(element_at(col("features"), 2) * 1e6).cast("long")
            .as("rms_q"),
          floor(element_at(col("features"), 4) * 1e6).cast("long")
            .as("zcr_q"))
      sources.Sources.writeParquet(perWin, predsPath("q414_windows"))
      val f = s.read.parquet(predsPath("q414_windows"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("asset_id")).orderBy(col("win_no"))
      val j = f
        .withColumn("jump",
          abs(col("rms_q") - lag(col("rms_q"), 1).over(w)))
        .withColumn("low", (col("rms_q") < 550000L).cast("long"))
        .withColumn("prev_low", lag(col("low"), 1).over(w))
      val g = j.groupBy(col("asset_id"))
        .agg(count(lit(1)).as("n_windows"),
          coalesce(sum(col("jump")), lit(0L)).as("sum_jump_q"),
          max(col("jump")).as("max_jump_q"),
          expr("sum(zcr_q) div count(1)").as("avg_zcr_q"),
          sum(col("low")).as("n_low"),
          sum(when(col("low") === 1L &&
              (col("prev_low").isNull || col("prev_low") === 0L), 1L)
            .otherwise(0L)).as("n_low_runs"))
      val peak = j
        .join(g.select(col("asset_id"), col("max_jump_q")), Seq("asset_id"))
        .filter(col("jump") === col("max_jump_q"))
        .groupBy(col("asset_id"))
        .agg(min(col("win_no")).as("peak_win"))
      g.join(peak, Seq("asset_id"), "left_outer")
        .select(col("asset_id"), col("n_windows"), col("sum_jump_q"),
          col("max_jump_q"), col("avg_zcr_q"), col("n_low"),
          col("n_low_runs"), col("peak_win"))
    }),


    // IMAGE near-dup via dHash + the text path's banded-hamming LSH:
    // the corpus is every synthetic image plus a single-pixel-perturbed
    // copy of each (one byte of the first stored pixel forced to 0x7f),
    // so ground truth is known — each original pairs with its copy
    // within a few bits. The decode→resize→dhash FIT half has no SQL
    // form, so it persists (asset_id, sig) and the portable banded-
    // hamming SERVE half is oracle-replayed over the stored signatures
    // (previously rows-only); MultimodalSpec still pins the ground-truth
    // recall and the unrelated-images-don't-pair precision.
    "q225_image_neardup" -> ((s, dir) => {
      val imgs = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "image")
      val copies = imgs.select(
        (col("asset_id") + 1000000L).as("asset_id"),
        col("modality"),
        concat(substring(col("content"), 1, 54),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 56, length(content) - 55)"))
          .as("content"),
        col("meta"))
      stageAndServeHamming(s,
        multimodal.Multimodal.imageSignatures(imgs.unionByName(copies)),
        "q225_sigs", "asset_id", perceptualHamming)
    }),


    // VIDEO shot-boundary detection (round 13) — the temporal
    // segmentation read a video-curation pipeline runs before sampling
    // keyframes: per-frame 9×8 gray gradient hashes (vhash64 on a
    // single-frame slice — the same kernel q466 majority-folds), then a
    // cut wherever consecutive frames' hamming exceeds 16 bits (within
    // a shot the gradient field is stable; across a cut ~half the 64
    // bits flip). The synthetic corpus plants the ground truth: 8-frame
    // clips whose frames 0–3 share one md5 seed and 4–7 another, so
    // every clip cuts exactly once at frame 4. Decode → per-frame hash
    // is the persisted FIT half (native kernel, no SQL form); the lag /
    // threshold / rollup SERVE half replays in DuckDB over the stored
    // hashes. Frame explode fans out within partitions; the lag window
    // partitions by asset — nothing global.
    "q474_shot_boundaries" -> ((s, dir) => {
      val w = multimodal.Multimodal.SyntheticImageW
      val h = multimodal.Multimodal.SyntheticImageH
      val luma = w * h
      val hexBlocks = (luma * 2 + 31) / 32
      val ref = graft.expr.Y4mDecode.encode(w, h, 1, new Array[Byte](luma))
      val header = ref.take(ref.length - luma - 6)
      val nFrames = 8
      def frameBytes(f: Int) = {
        val seed = concat(col("id"), lit(if (f < 4) "_shotA_" else "_shotB_"))
        to_binary(substring(concat_ws("",
          (0 until hexBlocks).map(b => md5(concat(seed, lit(s"$b")))): _*),
          1, luma * 2), lit("hex"))
      }
      val content = concat(
        lit(header) +:
          (0 until nFrames).flatMap(f => Seq(
            lit("FRAME\n".getBytes("US-ASCII")), frameBytes(f))): _*)
      val assets = s.range(300).select(col("id").as("asset_id"),
        content.as("content"))
      val hashes = assets
        .withColumn("vid", graft.exprapi.y4mDecode(col("content")))
        .filter(col("vid").isNotNull)
        .select(col("asset_id"), col("vid"),
          explode(sequence(lit(0), col("vid.n_frames") - 1)).as("frame_no"))
        .select(col("asset_id"), col("frame_no").cast("long").as("frame_no"),
          graft.exprapi.vhash64(
            col("vid.y").substr(
              (col("frame_no") * col("vid.w") * col("vid.h") + 1)
                .cast("int"),
              (col("vid.w") * col("vid.h")).cast("int")),
            col("vid.w"), col("vid.h"), lit(1)).as("fh"))
      sources.Sources.writeParquet(hashes, predsPath("q474_frame_hashes"))
      val stored = s.read.parquet(predsPath("q474_frame_hashes"))
      val wA = org.apache.spark.sql.expressions.Window
        .partitionBy(col("asset_id")).orderBy(col("frame_no"))
      stored
        .withColumn("prev", lag(col("fh"), 1).over(wA))
        .withColumn("cut",
          col("prev").isNotNull &&
            bit_count(col("fh").bitwiseXOR(col("prev"))) > 16)
        .groupBy(col("asset_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("cut").cast("long")).as("n_cuts"),
          coalesce(min(when(col("cut"), col("frame_no"))), lit(-1L))
            .as("first_cut"))
    }),


    // VIDEO near-dup via the majority-folded per-frame gradient
    // fingerprint (vhash64) — completes the image/audio/video symmetry
    // over the SAME banded-hamming LSH join (round-12 VERDICT next #2).
    // Ground truth mirrors q225: every synthetic Y4M plus a
    // single-luma-byte-perturbed copy (source pixel (2,2) of frame 1 —
    // a cell sampled by exactly ONE 9×8 grid point, so at most 2
    // gradient bits move in that frame's hash and at most 2 in the
    // fold). Fit/serve split: decode→vhash signatures persisted, the
    // portable banded-hamming serve oracle-replayed over the stored
    // 64-bit values; MultimodalSpec pins recall + precision.
    "q466_video_neardup" -> ((s, dir) => {
      val vids = multimodal.Multimodal.syntheticAssets(s, 900)
        .filter(col("modality") === "video")
      // Y4M layout: 36-byte header, then FRAME\n + 48-byte luma per
      // frame; byte 61 (1-based) = frame-1 luma offset 18 = pixel (2,2)
      val copies = vids.select(
        (col("asset_id") + 1000000L).as("asset_id"),
        col("modality"),
        concat(substring(col("content"), 1, 60),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 62, length(content) - 61)"))
          .as("content"),
        col("meta"))
      stageAndServeHamming(s,
        multimodal.Multimodal.videoSignatures(vids.unionByName(copies)),
        "q466_sigs", "asset_id", perceptualHamming)
    }),


    // AUDIO near-dup via the energy-delta fingerprint — same known-
    // ground-truth construction as q225: every synthetic WAV plus a
    // single-sample-perturbed copy (one PCM byte mid-stream forced to
    // 0x7f → at most two energy-comparison bits move). Same fit/serve
    // split as q225: WAV-decode fingerprints persisted, banded-hamming
    // serve oracle-replayed; MultimodalSpec pins recall + precision.
    "q226_audio_neardup" -> ((s, dir) => {
      val auds = multimodal.Multimodal
        .syntheticAssets(s, 900, payloadBlocks = 64)
        .filter(col("modality") === "audio")
      val copies = auds.select(
        (col("asset_id") + 1000000L).as("asset_id"),
        col("modality"),
        concat(substring(col("content"), 1, 556),
          lit(Array[Byte](0x7f.toByte)),
          expr("substring(content, 558, length(content) - 557)"))
          .as("content"),
        col("meta"))
      stageAndServeHamming(s,
        multimodal.Multimodal.audioSignatures(auds.unionByName(copies)),
        "q226_sigs", "asset_id", perceptualHamming)
    }),


    // Sketch aggregates — the 100-TB aggregation staple: HyperLogLog++
    // distinct counts and t-digest-style percentiles in ONE map-side-
    // partial pass, constant memory per group regardless of cardinality.
    // Round-14 serve split (the q91 recipe, round-13 VERDICT next #6):
    // the sketch ESTIMATES stay engine-local (HLL++/percentile-digest
    // internals have no DuckDB mirror — tolerance vs exact pinned in
    // RelationalSpec), but they persist ONCE per flag, and the serve
    // half — the consuming rollup arithmetic — replays hash-exactly
    // from the stored scalars: tail dispersion p95/p50 (IEEE double
    // division) and per-mille lines-per-order (integral division).
    "q37_approx_stats" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
          expr("approx_percentile(l_extendedprice, array(0.5D, 0.95D), 10000)")
            .as("price_pcts"),
          count(lit(1)).as("n"))
        // one shared sketch, projected to scalars: the driver's rows-only
        // canonicalizer sorts/hashes column values and cannot order an
        // array<double> cell (r2 harness err) — scalar p50/p95 can be.
        .select(
          col("l_returnflag"), col("approx_orders"),
          element_at(col("price_pcts"), 1).as("p50"),
          element_at(col("price_pcts"), 2).as("p95"),
          col("n"))
        .coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q37_sketches"))
      s.read.parquet(predsPath("q37_sketches"))
        .select(col("l_returnflag"), col("approx_orders"),
          col("p50"), col("p95"), col("n"),
          (col("p95") / col("p50")).as("tail_ratio"),
          expr("(n * 1000) DIV approx_orders").as("lines_per_order_pm"))
    }),


    // quality: DEFLATE compression ratio per doc (per-mille) — the
    // long-range-redundancy screen complementing q62's fixed-width
    // duplicate-gram rule. zlib output is engine-local, so the FIT half
    // (the deflate itself) persists per-doc byte sizes once, and the
    // SERVE half — the ratio arithmetic the query actually registers —
    // is oracle-replayed from the stored sizes (the q40/q225 split;
    // round-9 "flip the last flippable no_oracle row"). Discrimination
    // and determinism of the codec stay pinned by TextOpsSpec.
    "q91_compress_ratio" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("n_bytes"),
          graft.exprapi.deflateLen(col("text").cast("binary")).cast("long").as("z_bytes"))
        .filter(col("n_bytes") > 0)
        .coalesce(1).write.mode("overwrite")
        .parquet(predsPath("q91_sizes"))
      s.read.parquet(predsPath("q91_sizes"))
        .withColumn("ratio_pm", expr("(z_bytes * 1000) DIV n_bytes"))
    }),


    // the full training-data EXPORT path composed end-to-end: curation
    // funnel survivors (q132) → content-addressed train split (q44's
    // md5 rule) → GPT-style sequence packing at budget 512 (q72's
    // two-phase cumsum) → per-sequence occupancy roll-up. Each stage is
    // individually oracle-proven; this query certifies their
    // COMPOSITION — the survivors-only corpus enters the packer, and
    // the packed layout is a pure function of content, so the oracle
    // rebuilds it from the raw tables alone.
    // write-audit-publish gate: the batch stages, the DQ suite audits
    // the STAGED BYTES, and only an all-pass report atomically promotes
    // staging to publish — the checked aggregate reads FROM THE
    // PUBLISHED DIR, so a hash match proves the content crossed the
    // gate unchanged (SourcesSpec proves the failing-gate half: old
    // publish untouched)
    "q196_write_audit_publish" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val root = predsPath(s"q196_${System.nanoTime()}")
      val (ok, _) = sources.Sources.writeAuditPublish(docs,
        s"$root/staging", s"$root/published", Seq(
          "doc_id_not_null" -> col("doc_id").isNull,
          "text_not_null" -> col("text").isNull,
          "n_chars_consistent" ->
            (length(col("text")).cast("long") =!= col("n_chars"))))
      require(ok, "WAP gate must pass on the clean fixture")
      s.read.parquet(s"$root/published")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
    }),


    // targeted key deletion in a bucketed lake table (GDPR /
    // right-to-be-forgotten): the delete set prunes to its md5 buckets,
    // only those partitions are read+rewritten (SourcesSpec proves
    // untouched buckets bit-identical); the md5 layout makes the
    // per-bucket report oracle-replayable. Fresh table per run — the
    // operator MUTATES its table.
    "q195_targeted_delete" -> ((s, dir) => {
      val mdBucket = pmod(
        conv(substring(md5(col("o_orderkey").cast("string")), 1, 8), 16, 10)
          .cast("long"), lit(16L)).cast("int")
      val base = ordersSnapshot(s, dir)
      val tableDir = predsPath(s"q195_table_${System.nanoTime()}")
      base.withColumn("kb", mdBucket)
        .write.mode("overwrite").partitionBy("kb").parquet(tableDir)
      sources.Sources.deleteKeysBucketed(s, tableDir,
        Seq("o_orderkey"), nBuckets = 16,
        toDelete = base.filter(col("o_orderkey") % 97 === 0)
          .select(col("o_orderkey")),
        bucket = Some(mdBucket))
    }),


    // aggregate-navigator serve: monthly metrics answered from a
    // PERSISTED daily rollup (events → daily once; month = re-aggregate
    // of the ~1000× smaller daily table) — correct because count and
    // integer-cent sums are associative. The oracle computes the month
    // DIRECTLY from raw events: hash match proves serve-from-rollup ==
    // serve-from-raw.
    "q181_rollup_serve" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum((col("value").cast("decimal(30,2)") * 100).cast("long"))
            .as("cents"))
      val path = predsPath("q181_daily")
      daily.coalesce(2).write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .groupBy(col("user_id"), trunc(col("day"), "month").as("month"))
        .agg(sum(col("n")).as("n_events"),
          sum(col("cents")).as("sum_cents"))
    }),


    // JSONL round trip — the interchange format every training-data
    // pipeline speaks: documents → newline-delimited JSON (2 files) →
    // schema-pinned re-read → grouped stats INCLUDING a 56-bit md5
    // content digest of the text, so the hash match proves the text
    // round-trips byte-exactly through the JSON escape/unescape chain
    // of BOTH engines (the oracle reads the SAME staged .json files)
    "q176_jsonl_roundtrip" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val path = predsPath("q176_jsonl")
      docs.coalesce(2).write.mode("overwrite").json(path)
      s.read.schema(docs.schema).json(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"),
          sum(conv(substring(md5(col("text")), 1, 14), 16, 10)
            .cast("decimal(20,0)")).cast("decimal(30,0)").cast("string")
            .as("text_digest"))
    }),


    "q170_training_export" -> ((s, dir) => {
      val all = Tables.documents(s, dir)
      val verdicts = TextOps.curationFunnel(
        all.filter(col("doc_id") % 100 =!= 0),
        all.filter(col("doc_id") % 100 === 0))
      val kept = verdicts.filter(col("verdict") === "kept")
        .select(col("doc_id"))
      val train = ml.Models.hashSplit(kept, "doc_id")
        .filter(col("split") === "train").select(col("doc_id"))
      val corpus = train.join(all, Seq("doc_id"))
      llm.Packing.chunkOccupancy(
        llm.Packing.packOffsets(corpus, "doc_id",
          size(TextOps.tokens(col("text"))).cast("long"), budget = 512L))
    }),
  )

  /** DuckDB-runnable oracle equivalents; keys lacking an entry here are
    * rows-only checked by the driver (non-portable hash/codec/fit paths,
    * each pinned by a dedicated spec instead). */
  val sql: Map[String, String] = Map(

    // modality rollup replayed from the persisted per-asset decode rows
    // (the q91 serve-split recipe) — the codecs stay engine-local and
    // spec-pinned; per-element floor quantization makes the energy sum
    // exact integer algebra in both engines
    "q26_multimodal_stats" ->
      s"""WITH a AS (
         |  SELECT modality, decoded,
         |    CAST(list_sum(list_transform(features, x ->
         |      CAST(floor(x * x * 1000000) AS BIGINT))) AS BIGINT)
         |      AS energy_q
         |  FROM read_parquet('${predsPath("q26_assets")}/*.parquet')
         |)
         |SELECT modality, CAST(count(*) AS BIGINT) AS n_assets,
         |  CAST(sum(decoded) AS BIGINT) AS n_decoded,
         |  CAST(sum(energy_q) AS BIGINT) AS sum_energy_q,
         |  CAST(sum(energy_q) // count(*) AS BIGINT) AS avg_energy_q
         |FROM a GROUP BY 1""".stripMargin,

    // spatial read replayed from the persisted patch grid: contrast +
    // neighbor-gradient energy over the stored (asset, row, col) rows
    "q437_image_patch_grid" ->
      s"""WITH p AS (
         |  SELECT asset_id, prow, pcol, luma_milli
         |  FROM read_parquet('${predsPath("q437_patches")}/*.parquet')
         |), base AS (
         |  SELECT asset_id, CAST(count(*) AS BIGINT) AS n_patches,
         |    CAST(max(luma_milli) - min(luma_milli) AS BIGINT)
         |      AS contrast_milli
         |  FROM p GROUP BY 1
         |), hg AS (
         |  SELECT a.asset_id,
         |    CAST(sum(abs(a.luma_milli - b.luma_milli)) AS BIGINT)
         |      AS h_grad_milli
         |  FROM p a JOIN p b ON a.asset_id = b.asset_id
         |    AND a.prow = b.prow AND b.pcol = a.pcol + 1
         |  GROUP BY 1
         |), vg AS (
         |  SELECT a.asset_id,
         |    CAST(sum(abs(a.luma_milli - b.luma_milli)) AS BIGINT)
         |      AS v_grad_milli
         |  FROM p a JOIN p b ON a.asset_id = b.asset_id
         |    AND a.pcol = b.pcol AND b.prow = a.prow + 1
         |  GROUP BY 1
         |)
         |SELECT base.asset_id, base.n_patches, base.contrast_milli,
         |  hg.h_grad_milli, vg.v_grad_milli
         |FROM base JOIN hg USING (asset_id) JOIN vg USING (asset_id)"""
        .stripMargin,

    // temporal read replayed from the persisted per-frame means: same
    // lag series, same rollup, same argmin peak
    "q411_video_frame_jumps" ->
      s"""WITH f AS (
         |  SELECT asset_id, frame_no, mean_q
         |  FROM read_parquet('${predsPath("q411_frames")}/*.parquet')
         |), j AS (
         |  SELECT asset_id, frame_no,
         |    abs(mean_q - lag(mean_q) OVER (PARTITION BY asset_id
         |                                   ORDER BY frame_no)) AS jump
         |  FROM f
         |), g AS (
         |  SELECT asset_id, CAST(count(*) AS BIGINT) AS n_frames,
         |    CAST(coalesce(sum(jump), 0) AS BIGINT) AS sum_jump_q,
         |    CAST(max(jump) AS BIGINT) AS max_jump_q
         |  FROM j GROUP BY 1
         |), p AS (
         |  SELECT j.asset_id, CAST(min(j.frame_no) AS BIGINT) AS peak_frame
         |  FROM j JOIN g ON j.asset_id = g.asset_id
         |              AND j.jump = g.max_jump_q
         |  GROUP BY 1
         |)
         |SELECT g.asset_id, g.n_frames, g.sum_jump_q, g.max_jump_q,
         |       p.peak_frame
         |FROM g LEFT JOIN p ON g.asset_id = p.asset_id""".stripMargin,

    // temporal + segmentation read replayed from the persisted
    // per-window RMS/ZCR rows: same lag series, same rollup, same
    // argmin peak, same below-threshold run starts
    "q414_audio_window_energy" ->
      s"""WITH f AS (
         |  SELECT asset_id, win_no, rms_q, zcr_q
         |  FROM read_parquet('${predsPath("q414_windows")}/*.parquet')
         |), j AS (
         |  SELECT asset_id, win_no, rms_q, zcr_q,
         |    abs(rms_q - lag(rms_q) OVER (PARTITION BY asset_id
         |                                 ORDER BY win_no)) AS jump,
         |    CASE WHEN rms_q < 550000 THEN 1 ELSE 0 END AS low,
         |    lag(CASE WHEN rms_q < 550000 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY asset_id ORDER BY win_no) AS prev_low
         |  FROM f
         |), g AS (
         |  SELECT asset_id, CAST(count(*) AS BIGINT) AS n_windows,
         |    CAST(coalesce(sum(jump), 0) AS BIGINT) AS sum_jump_q,
         |    CAST(max(jump) AS BIGINT) AS max_jump_q,
         |    CAST(sum(zcr_q) // count(*) AS BIGINT) AS avg_zcr_q,
         |    CAST(sum(low) AS BIGINT) AS n_low,
         |    CAST(sum(CASE WHEN low = 1 AND (prev_low IS NULL OR prev_low = 0)
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_low_runs
         |  FROM j GROUP BY 1
         |), p AS (
         |  SELECT j.asset_id, CAST(min(j.win_no) AS BIGINT) AS peak_win
         |  FROM j JOIN g ON j.asset_id = g.asset_id
         |              AND j.jump = g.max_jump_q
         |  GROUP BY 1
         |)
         |SELECT g.asset_id, g.n_windows, g.sum_jump_q, g.max_jump_q,
         |       g.avg_zcr_q, g.n_low, g.n_low_runs, p.peak_win
         |FROM g LEFT JOIN p ON g.asset_id = p.asset_id""".stripMargin,

    // serve half replayed from the persisted per-doc deflate sizes —
    // the codec itself stays engine-local (TextOpsSpec-pinned); the
    // ratio arithmetic is checked exactly
    "q91_compress_ratio" ->
      s"""SELECT doc_id, n_bytes, z_bytes,
         |  (z_bytes * 1000) // n_bytes AS ratio_pm
         |FROM read_parquet('${predsPath("q91_sizes")}/*.parquet')""".stripMargin,

    // serve half replayed from the persisted per-flag sketch scalars —
    // the HLL++/percentile sketches themselves stay engine-local
    // (RelationalSpec pins their 2%/5% tolerance vs exact); the
    // consuming rollup (IEEE double tail ratio, integral per-mille
    // lines-per-order) is checked exactly over the stored values
    "q37_approx_stats" ->
      s"""SELECT l_returnflag, approx_orders, p50, p95, n,
         |  p95 / p50 AS tail_ratio,
         |  (n * 1000) // approx_orders AS lines_per_order_pm
         |FROM read_parquet('${predsPath("q37_sketches")}/*.parquet')""".stripMargin,

    // fit/serve split: banded-hamming LSH serve replayed over persisted
    // dHash signatures (image defaults: hamMax 7, 8 bands)
    "q225_image_neardup" ->
      hammingReplaySql(predsPath("q225_sigs"), "asset_id", perceptualHamming),


    // same split over the persisted audio energy-delta fingerprints
    "q226_audio_neardup" ->
      hammingReplaySql(predsPath("q226_sigs"), "asset_id", perceptualHamming),


    // same split over the persisted video majority-fold fingerprints
    "q466_video_neardup" ->
      hammingReplaySql(predsPath("q466_sigs"), "asset_id", perceptualHamming),


    // the lag/threshold/rollup serve replayed over the persisted
    // per-frame gradient hashes (the fit half has no SQL form)
    "q474_shot_boundaries" ->
      s"""WITH h AS (
         |  SELECT asset_id, frame_no, fh
         |  FROM read_parquet('${predsPath("q474_frame_hashes")}/*.parquet')
         |), l AS (
         |  SELECT asset_id, frame_no, fh,
         |    lag(fh) OVER (PARTITION BY asset_id ORDER BY frame_no) AS prev
         |  FROM h
         |), c AS (
         |  SELECT asset_id, frame_no,
         |    (prev IS NOT NULL AND bit_count(xor(fh, prev)) > 16) AS cut
         |  FROM l
         |)
         |SELECT asset_id, CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(CASE WHEN cut THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
         |  CAST(coalesce(min(CASE WHEN cut THEN frame_no END), -1)
         |    AS BIGINT) AS first_cut
         |FROM c GROUP BY 1""".stripMargin,


    // the Spark side ran this join+agg from bucketed tables with zero
    // hash exchanges; the oracle replays it over the original parquet —
    // a hash match proves the bucketed layout is value-exact
    "q95_bucketed_join" ->
      s"""SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey, o.o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       ${dSum("l.l_quantity", 2, "sum_qty")}
         |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |GROUP BY 1, 2""".stripMargin,


    // XML round trip: oracle reads the ORIGINAL table
    "q124_xml_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority, o_totalprice
        |FROM orders""".stripMargin,


    // compaction must be content-invariant: the oracle reads the ORIGINAL
    "q123_compaction" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem""".stripMargin,

    // partition-selective compaction is content-invariant too: whatever
    // subset of buckets got rewritten, the table must still read as the
    // ORIGINAL events projection
    "q129_partition_compaction" ->
      """SELECT event_id, user_id, value FROM events""".stripMargin,

    // an independent footer reader over the same files must report the
    // same counts and byte sizes
    "q134_parquet_stats" ->
      s"""SELECT regexp_extract(file_name, '([^/]+)$$', 1) AS file_name,
         |       row_group_id, path_in_schema, num_values,
         |       total_compressed_size, total_uncompressed_size
         |FROM parquet_metadata('${predsPath("q134_table")}/*.parquet')""".stripMargin,


    "q120_schema_evolution" ->
      s"""SELECT o_orderkey, o_totalprice, o_orderstatus
         |FROM read_parquet(['${predsPath("q120_v1")}/*.parquet',
         |                   '${predsPath("q120_v2")}/*.parquet'],
         |                  union_by_name = true)""".stripMargin,


    "q119_mixture" ->
      """WITH sizes AS (
        |  SELECT lang,
        |         CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |           AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT lang, n_tokens,
        |         CAST(floor(1e6 * sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS wq
        |  FROM sizes
        |), ex AS (
        |  SELECT lang, n_tokens, wq,
        |         (100000 * CAST(wq AS DOUBLE)) /
        |           CAST((SELECT sum(wq) FROM w) AS DOUBLE) AS share
        |  FROM w
        |), e2 AS (
        |  SELECT *, CAST(floor(share) AS BIGINT) AS alloc0,
        |         share - floor(share) AS frac
        |  FROM ex
        |), sp AS (
        |  SELECT 100000 - sum(alloc0) AS spare FROM e2
        |)
        |SELECT lang, n_tokens, wq,
        |       CAST(alloc0 + CASE WHEN row_number()
        |           OVER (ORDER BY frac DESC, lang ASC) <= (SELECT spare FROM sp)
        |         THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM e2""".stripMargin,


    // both engines run the same RE2-safe extraction chain over the SAME
    // staged HTML bytes — cross-engine semantic pin of htmlToText
    "q113_html_extract" ->
      s"""SELECT doc_id,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(replace(
         |      regexp_replace(
         |        regexp_replace(
         |          regexp_replace(
         |            regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g'),
         |            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
         |          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
         |        '<[^>]+>', ' ', 'g'),
         |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |      '&#39;', ''''), '&amp;', '&'),
         |    '\\s+', ' ', 'g')) AS text
         |FROM read_parquet('${predsPath("q113_html")}/*.parquet')""".stripMargin,


    // independent SQL re-derivation of URL canonicalization, eTLD+1
    // grouping, and the per-domain cap
    "q114_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         'HTTPS://WWW.' || source ||
        |         CASE WHEN doc_id % 3 = 0 THEN '.com'
        |              WHEN doc_id % 3 = 1 THEN '.co.uk' ELSE '.org' END ||
        |         ':443/p/' || doc_id || '?utm_source=feed&id=' || doc_id ||
        |         '&utm_c=x#frag' AS url
        |  FROM documents
        |), n AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |    || '://' ||
        |    regexp_replace(regexp_replace(
        |      lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |      ':(80|443)$', ''), '^www\.', '') ||
        |    regexp_replace(regexp_replace(regexp_replace(
        |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1),
        |      '(?:utm_[^&=]*|fbclid|gclid)=[^&]*&', '', 'g'),
        |      '[?&](?:utm_[^&=]*|fbclid|gclid)=[^&]*$', ''),
        |      '\?$', '') AS url_norm
        |  FROM u
        |), h AS (
        |  SELECT doc_id, url_norm,
        |    regexp_extract(url_norm, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)
        |      AS host
        |  FROM n
        |), d AS (
        |  SELECT doc_id, url_norm,
        |    coalesce(nullif(regexp_extract(host,
        |      '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.(?:uk|au|jp|br|in|nz|za))$',
        |      1), ''), regexp_extract(host, '([^.]+\.[^.]+)$', 1)) AS domain
        |  FROM h
        |)
        |SELECT domain, doc_id, url_norm, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT domain, doc_id, url_norm,
        |             row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |      FROM d)
        |WHERE rn <= 5""".stripMargin,


    // the Spark side serialized to WARC and parsed back; the oracle reads
    // the ORIGINAL table — the hash match proves the round trip is exact
    "q112_warc_roundtrip" ->
      """SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,


    // the Spark side salted the join; the oracle is the PLAIN join — the
    // hash match proves the skew mitigation is result-invisible
    "q96_salted_join" ->
      s"""SELECT o.o_orderstatus,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       ${dSum("l.l_quantity", 2, "sum_qty")}
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |GROUP BY 1""".stripMargin,


    // Morton interleave over min-max-scaled dims, recomputed bit-for-bit:
    // scaled = floor((c - min)·2^16 / (max - min + 1)) is exact-in-double
    // on both engines; column j's bit i lands at 2i+j, positions are
    // disjoint so the sum over terms equals the OR
    "q101_zorder" ->
      """WITH s AS (
        |  SELECT CAST(min(l_partkey) AS DOUBLE) AS pmin, CAST(max(l_partkey) AS DOUBLE) AS pmax,
        |         CAST(min(l_suppkey) AS DOUBLE) AS smin, CAST(max(l_suppkey) AS DOUBLE) AS smax
        |  FROM lineitem
        |), v AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(floor((l_partkey - pmin) * 65536 / (pmax - pmin + 1)) AS BIGINT) AS p,
        |    CAST(floor((l_suppkey - smin) * 65536 / (smax - smin + 1)) AS BIGINT) AS q
        |  FROM lineitem, s
        |)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
        |    (((p >> i) & 1) << (2*i)) + (((q >> i) & 1) << (2*i+1))
        |  )) AS BIGINT) AS zval
        |FROM v""".stripMargin,


    "q104_dsir_weights" ->
      """WITH tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |        FROM documents)
        |  GROUP BY 1, 2
        |), tgt AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS ct
        |  FROM tf
        |  WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
        |  GROUP BY 1
        |), raw AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS cr FROM tf GROUP BY 1
        |), tot AS (
        |  SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
        |         (SELECT CAST(COALESCE(sum(ct), 0) AS BIGINT) FROM tgt) AS nt,
        |         (SELECT CAST(count(*) AS BIGINT) FROM raw) AS v
        |), vq AS (
        |  SELECT raw.tok,
        |         CAST(floor(1e6 * ((ln(CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE))
        |                            - ln(CAST(tot.nt + tot.v AS DOUBLE)))
        |                           - (ln(CAST(raw.cr + 1 AS DOUBLE))
        |                              - ln(CAST(tot.nr + tot.v AS DOUBLE))))) AS BIGINT) AS q
        |  FROM raw CROSS JOIN tot LEFT JOIN tgt USING (tok)
        |), w AS (
        |  SELECT doc_id,
        |         CAST(sum(tf) AS BIGINT) AS n_tok,
        |         CAST(sum(tf * q) AS BIGINT) AS w_q
        |  FROM tf JOIN vq ON tf.tok = vq.tok
        |  GROUP BY 1
        |), top AS (
        |  SELECT doc_id FROM w ORDER BY w_q DESC, doc_id LIMIT 50
        |)
        |SELECT w.doc_id, w.n_tok, w.w_q,
        |       CAST(CASE WHEN top.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS sel
        |FROM w LEFT JOIN top ON w.doc_id = top.doc_id""".stripMargin,


    // No CSV on the oracle side: the SQL replays format→parse on the
    // parquet directly — DuckDB strftime/strptime's %y uses the same POSIX
    // 68/69 century pivot as Sources.toDateMMDDYY's explicit correction.
    "q41_csv_roundtrip" ->
      """SELECT CAST(o.o_orderkey AS BIGINT) AS o_orderkey,
        |       c.c_name AS c_name,
        |       CAST(strptime(strftime(o.o_orderdate, '%m/%d/%y'), '%m/%d/%y') AS DATE) AS o_date
        |FROM orders o
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin,


    // strip_accents (utf8proc) ≡ NFD + drop combining marks for this
    // input; same lower/collapse/trim chain, 'g' flag = Spark's
    // replace-all default
    "q60_canonicalize" ->
      ("SELECT doc_id, " +
        "trim(regexp_replace(lower(strip_accents('Café  NAÏVE étude:' || chr(9) || text)), " +
        "'\\s+', ' ', 'g')) AS norm_text FROM documents"),


    // 5 unrolled integer rounds — DuckDB's recursive CTEs forbid the
    // per-round aggregation PageRank needs, and the unrolled form is the
    // same recurrence the Spark loop runs, BIGINT for BIGINT
    "q69_pagerank" -> {
      def round(k: Int): String =
        s"""pr$k AS (
           |  SELECT n.node,
           |    CAST((SELECT base FROM params) + (85 * COALESCE(m.s, 0)) // 100 AS BIGINT) AS score
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS node, SUM(p.score // d.deg) AS s
           |    FROM pr${k - 1} p JOIN deg d ON p.node = d.node
           |    JOIN edges e ON e.src = p.node
           |    GROUP BY e.dst) m ON n.node = m.node)""".stripMargin
      """WITH pairs AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
        |params AS (SELECT CAST(1000000000000 // count(*) AS BIGINT) AS init,
        |                  CAST((15 * (1000000000000 // count(*))) // 100 AS BIGINT) AS base
        |           FROM nodes),
        |pr0 AS (SELECT node, (SELECT init FROM params) AS score FROM nodes),
        |""".stripMargin +
        (1 to 5).map(round).mkString(",\n") +
        "\nSELECT node, score FROM pr5"
    },


    // Keys and char counts recomputed from parquet — the Spark side must
    // round-trip them through real files and path parsing
    "q46_corpus_scan" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       CAST(20000101 + doc_id AS VARCHAR) AS report_date_raw,
        |       CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL""".stripMargin,


    "q72_seq_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tok
        |  FROM documents
        |), o AS (
        |  SELECT doc_id, n_tok,
        |         CAST(sum(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
        |  FROM t
        |)
        |SELECT doc_id, n_tok, end_off - n_tok AS start_off, end_off,
        |       CAST((end_off - n_tok) // 512 AS BIGINT) AS first_seq,
        |       CAST(greatest((end_off - 1) // 512, (end_off - n_tok) // 512) AS BIGINT) AS last_seq
        |FROM o""".stripMargin,


    "q74_heavy_hitters" -> heavyHittersSql,


    "q75_orc_roundtrip" ->
      """SELECT o_orderstatus,
        |       CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT) AS sum_price_i,
        |       CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY 1""".stripMargin,


    "q77_group_sample" ->
      """WITH r AS (
        |  SELECT doc_id, lang,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents
        |)
        |SELECT doc_id, lang FROM r WHERE rn <= 20""".stripMargin,


    "q81_weighted_sample" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS w
        |  FROM documents
        |), kq AS (
        |  SELECT doc_id, lang, w,
        |         CAST(floor(1e12 * ln(
        |             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1.0)
        |               / 4294967296.0) / w) AS BIGINT) AS key_q
        |  FROM t WHERE w > 0
        |), r AS (
        |  SELECT doc_id, lang, w, key_q,
        |         row_number() OVER (PARTITION BY lang ORDER BY key_q DESC, doc_id) AS rn
        |  FROM kq
        |)
        |SELECT doc_id, lang, w, key_q FROM r WHERE rn <= 15""".stripMargin,


    // q92's triangle CTE + degrees off the same undirected edge set,
    // normalized per node, pooled mean attached
    "q440_clustering_coeff" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 45
        |), e AS (
        |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
        |), tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), tc AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri
        |  ) GROUP BY 1
        |), deg AS (
        |  SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e
        |  ) GROUP BY 1
        |), cc AS (
        |  SELECT deg.node, deg.d, coalesce(tc.n_tri, 0) AS n_tri,
        |    CASE WHEN deg.d >= 2
        |         THEN 2 * coalesce(tc.n_tri, 0) * 1000000
        |              // (deg.d * (deg.d - 1))
        |         ELSE 0 END AS cc_ppm
        |  FROM deg LEFT JOIN tc ON deg.node = tc.node
        |)
        |SELECT node, d, CAST(n_tri AS BIGINT) AS n_tri,
        |  CAST(cc_ppm AS BIGINT) AS cc_ppm,
        |  (SELECT CAST(sum(cc_ppm) // count(*) AS BIGINT) FROM cc)
        |    AS mean_cc_ppm
        |FROM cc""".stripMargin,

    "q92_triangles" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_quantity > 45
        |), e AS (
        |  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
        |  FROM li x JOIN li y
        |    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
        |), tri AS (
        |  SELECT e1.a AS u, e1.b AS v, e2.b AS w
        |  FROM e e1
        |  JOIN e e2 ON e1.b = e2.a
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT v FROM tri
        |  UNION ALL SELECT w FROM tri
        |) GROUP BY 1""".stripMargin,


    // the published table must equal the source — stated directly
    "q196_write_audit_publish" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |       min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY 1""".stripMargin,


    // per-touched-bucket report rebuilt from the same md5 layout rule
    "q195_targeted_delete" ->
      """WITH b AS (
        |  SELECT o_orderkey,
        |         CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
        |              AS BIGINT) % 16 AS kb
        |  FROM orders
        |), d AS (
        |  SELECT DISTINCT kb FROM b WHERE o_orderkey % 97 = 0
        |)
        |SELECT CAST(b.kb AS INT) AS kb,
        |       CAST(count(*) AS BIGINT) AS n_before,
        |       CAST(sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_deleted,
        |       CAST(count(*) - sum(CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_after
        |FROM b JOIN d USING (kb) GROUP BY 1""".stripMargin,


    // the month computed DIRECTLY from raw events — re-aggregation of
    // the persisted daily rollup must land on exactly these rows
    "q181_rollup_serve" ->
      """SELECT user_id, date_trunc('month', CAST(ts AS DATE)) AS month,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT))
        |            AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin,


    // the SAME staged newline-delimited JSON files re-read by DuckDB's
    // independent JSON reader — schema pinned, digest over the decoded
    // text proves both decoders produce identical bytes
    "q176_jsonl_roundtrip" ->
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |       min(doc_id) AS min_id, max(doc_id) AS max_id,
         |       CAST(CAST(sum(CAST(CAST('0x' || substr(md5(text), 1, 14) AS BIGINT)
         |                          AS DECIMAL(20,0))) AS DECIMAL(30,0)) AS VARCHAR)
         |         AS text_digest
         |FROM read_json('${predsPath("q176_jsonl")}/*.json',
         |  format = 'newline_delimited',
         |  columns = {doc_id: 'BIGINT', text: 'VARCHAR', lang: 'VARCHAR',
         |             source: 'VARCHAR', n_chars: 'BIGINT'})
         |GROUP BY 1""".stripMargin,


    // q132's funnel SQL verbatim as a CTE (cross-referenced, never
    // duplicated), then the md5 train rule + q72's naive global-window
    // packing form + the occupancy group-by
    "q170_training_export" ->
      s"""WITH funnel AS (
         |${TextQueries.sql("q132_curation_funnel")}
         |), kept AS (
         |  SELECT doc_id FROM funnel WHERE verdict = 'kept'
         |), tr AS (
         |  SELECT k.doc_id,
         |         CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS n_tok
         |  FROM kept k JOIN documents d USING (doc_id)
         |  WHERE CAST('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 2) AS INT) < 205
         |), o AS (
         |  SELECT doc_id, n_tok,
         |         CAST(sum(n_tok) OVER (ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
         |  FROM tr
         |)
         |SELECT CAST((end_off - n_tok) // 512 AS BIGINT) AS seq_id,
         |       CAST(count(*) AS BIGINT) AS n_docs_starting,
         |       CAST(sum(n_tok) AS BIGINT) AS tok_started
         |FROM o GROUP BY 1""".stripMargin,
  )
}
