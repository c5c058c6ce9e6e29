package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.engine.Engine
import graft.expr.PatternCompiler
import graft.functions.TripleCrypto
import graft.model.{ArrayOp, TriplePattern}
import graft.store.TripleStore

import Harness._

/** Triple serving, ingest and sync on one 64-bucket store.
  *
  * The store holds the star-schema triples plus the lineitem edges of
  * the first `li_orders` orders, built once by `TripleStore.insert` and
  * `compact` and cached. A peer store, cached with it, lacks a fixed
  * slice of it (`D1`: subjects `cust:k`, k % 50 = 0, and `order:k`,
  * k % 500 = 0) and holds a fixed delta the store lacks, so sync has
  * work in both directions.
  */
final class TripleWorkload(conf: Conf, header: JsonNode, work: Path) extends Workload {
  private val buckets = header.get("buckets").asInt()
  private val liOrders = header.get("li_orders").asLong()
  private val cache = Paths.get(conf.cache)
  private var store: TripleStore = _
  private var peer: TripleStore = _
  private var engine: Engine = _
  private var key: TripleCrypto.KeyPair = _
  private val schema = StructType(Seq("subj", "pred", "obj").map(StructField(_, StringType)))

  private def baseTriples(spark: SparkSession): DataFrame = {
    def rd(t: String) = spark.read.parquet(s"${conf.corpus}/$t.parquet")
    def t(df: DataFrame, subj: org.apache.spark.sql.Column, pred: String,
        obj: org.apache.spark.sql.Column) =
      df.select(subj.cast("string").as("subj"), lit(pred).as("pred"), obj.cast("string").as("obj"))
    val cust = rd("customer"); val nat = rd("nation"); val reg = rd("region")
    val ord = rd("orders"); val supp = rd("supplier")
    val li = rd("lineitem").filter(col("l_orderkey") < liOrders)
    val ck = concat(lit("cust:"), col("c_custkey"))
    val nk = concat(lit("nation:"), col("n_nationkey"))
    val lk = concat(lit("li:"), col("l_orderkey"), lit("-"), col("l_linenumber"))
    Seq(
      t(cust, ck, "name", col("c_name")),
      t(cust, ck, "mktsegment", col("c_mktsegment")),
      t(cust, ck, "nation", concat(lit("nation:"), col("c_nationkey"))),
      t(nat, nk, "name", col("n_name")),
      t(nat, nk, "region", concat(lit("region:"), col("n_regionkey"))),
      t(reg, concat(lit("region:"), col("r_regionkey")), "name", col("r_name")),
      t(ord, concat(lit("order:"), col("o_orderkey")), "customer",
        concat(lit("cust:"), col("o_custkey"))),
      t(supp, concat(lit("supp:"), col("s_suppkey")), "nation",
        concat(lit("nation:"), col("s_nationkey"))),
      t(li, lk, "order", concat(lit("order:"), col("l_orderkey"))),
      t(li, lk, "part", concat(lit("part:"), col("l_partkey"))),
      t(li, lk, "supp", concat(lit("supp:"), col("l_suppkey")))
    ).reduce(_ unionAll _)
  }

  private def inD1(subj: org.apache.spark.sql.Column) = {
    def key(prefix: String) = regexp_extract(subj, s"^$prefix:(\\d+)$$", 1)
    (subj.startsWith("cust:") && pmod(key("cust").cast("long"), lit(50L)) === 0) ||
      (subj.startsWith("order:") && pmod(key("order").cast("long"), lit(500L)) === 0)
  }

  override def needsPrepare: Boolean = !Files.exists(cache.resolve("_BUILT"))

  override def prepare(spark: SparkSession): Unit = {
    val done = cache.resolve("_BUILT")
    deleteTree(cache)
    val t0 = System.nanoTime()
    val base = baseTriples(spark)
    val s = new TripleStore(spark, cache.resolve("store").toString, buckets)
    s.insert(base); s.compact()
    val p = new TripleStore(spark, cache.resolve("peer").toString, buckets)
    p.insert(base.filter(!inD1(col("subj"))).unionAll(frame(spark, header.get("peer_delta"))))
    p.compact()
    Files.writeString(done, f"${(System.nanoTime() - t0) / 1e9}%.3f\n")
  }

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    val storeDir = work.resolve(s"store-$rep"); val peerDir = work.resolve(s"peer-$rep")
    deleteTree(storeDir); deleteTree(peerDir)
    copyTree(cache.resolve("store"), storeDir)
    copyTree(cache.resolve("peer"), peerDir)
    store = new TripleStore(spark, storeDir.toString, buckets)
    peer = new TripleStore(spark, peerDir.toString, buckets)
    engine = new Engine(store)
    key = TripleCrypto.generateKeyPair()
    // time to first result: one lookup
    ctx.rec = new OpRecord(-1, "setup", false, false)
    run(ctx, header.get("first_op"))
    if (rep > 1) {
      deleteTree(work.resolve(s"store-${rep - 1}")); deleteTree(work.resolve(s"peer-${rep - 1}"))
    }
  }

  private def frame(spark: SparkSession, triples: JsonNode): DataFrame = {
    val rows = triples.elements().asScala.map { t =>
      Row(t.get(0).asText(), t.get(1).asText(), t.get(2).asText())
    }.toSeq
    spark.createDataFrame(rows.asJava, schema)
  }

  private def arrayOp(n: JsonNode): ArrayOp = {
    val pats = Option(n.get("triples")).map(_.elements().asScala.map { p =>
      def f(k: String) = Option(p.get(k)).map(_.asText()).getOrElse("")
      TriplePattern.fromStrings(f("subj"), f("pred"), f("obj"))
    }.toSeq).getOrElse(Nil)
    val args = Option(n.get("args")).map(_.elements().asScala.map(arrayOp).toSeq).getOrElse(Nil)
    n.get("mode").asText() match {
      case "and" => ArrayOp.And(pats, args)
      case "or" => ArrayOp.Or(pats, args)
      case "not" => ArrayOp.Not(pats, args)
    }
  }

  private def putRows(ctx: Ctx, rows: Array[Row], hashes: Boolean): Unit = {
    ctx.rec.out.put("rows", rows.length)
    ctx.rec.out.put("digest", digestRows(rows))
    if (hashes) ctx.rec.out.put("hashes", rows.map(r =>
      rowHash(r.getString(0), r.getString(1), r.getString(2)).toString).toSeq.asJava)
  }

  private def compileTraced(ctx: Ctx, q: ArrayOp): Unit =
    if (ctx.rec.traced) ctx.tracer.span("expr.compile") {
      PatternCompiler.compile(q)
      ctx.rec.out.put("buckets_kept",
        PatternCompiler.prunedBuckets(q, buckets).map(_.size).getOrElse(buckets))
    }

  def run(ctx: Ctx, op: JsonNode): Unit = {
    val tr = ctx.tracer
    op.get("kind").asText() match {
      case "lookup" | "ryw" =>
        val q = tr.span("engine.parse")(Engine.parseJsonQuery(op.get("json").asText()))
        compileTraced(ctx, q)
        val df = tr.span("engine.build")(engine.executeQuery(Seq(q)))
        putRows(ctx, ctx.collect(df), hashes = false)
      case "scan" =>
        val q = arrayOp(op.get("op"))
        compileTraced(ctx, q)
        val limit = op.path("limit").asInt(-1)
        val df = tr.span("store.query")(store.query(q, limit))
        if (op.get("mode").asText() == "count")
          ctx.rec.out.put("count", ctx.collect(df.groupBy().count())(0).getLong(0))
        else putRows(ctx, ctx.collect(df), hashes = limit > 0)
      case "traverse" =>
        val steps = op.get("steps").elements().asScala.map(_.asText()).toSeq
        val qs = tr.span("engine.parse")(steps.map(Engine.parseJsonQuery))
        val df = tr.span("engine.build")(engine.executeQuery(qs))
        putRows(ctx, ctx.collect(df), hashes = false)
      case "insert" =>
        val batch = frame(ctx.spark, op.get("triples"))
        ctx.rec.out.put("inserted", tr.span("store.insert")(store.insertSigned(batch, key)))
      case "sync" =>
        val pull = op.get("dir").asText() == "pull"
        ctx.rec.out.put("synced", tr.span("store.sync")(
          if (pull) store.sync(peer) else peer.sync(store)))
      case "compact" =>
        ctx.rec.out.put("files_before", dataFiles(Paths.get(store.path))._1)
        tr.span("store.compact")(store.compact())
    }
  }

  override def after(ctx: Ctx, op: JsonNode): Unit = {
    val kind = op.get("kind").asText()
    if (Set("insert", "sync", "compact")(kind)) {
      val (files, bytes) = dataFiles(Paths.get(store.path))
      ctx.rec.out.put("files_total", files); ctx.rec.out.put("store_bytes", bytes)
    }
    if (kind == "sync" || kind == "compact") {
      val (n, d) = storeDigest(ctx.spark, store.path)
      ctx.rec.out.put("store_count", n); ctx.rec.out.put("store_digest", d)
    }
    if (kind == "sync") {
      val (n, d) = storeDigest(ctx.spark, peer.path)
      ctx.rec.out.put("peer_count", n); ctx.rec.out.put("peer_digest", d)
    }
  }

  override def traceExtra(ctx: Ctx, op: JsonNode): Unit = op.get("kind").asText() match {
    case "traverse" =>
      val qs = op.get("steps").elements().asScala.map(s => Engine.parseJsonQuery(s.asText())).toSeq
      ctx.rec.out.put("frontier_rows", (1 until qs.size).map { h =>
        engine.executeQuery(qs.take(h)).select("obj").distinct().count()
      }.asJava)
    case "sync" =>
      // The filter a sync round builds is the receiving store's `bloom()`;
      // it is built again here, after the round.
      val receiver = if (op.get("dir").asText() == "pull") store else peer
      val bytes = new java.io.ByteArrayOutputStream()
      receiver.bloom().writeTo(bytes)
      ctx.rec.out.put("bloom_bytes", bytes.size())
    case _ =>
  }

  override def stamps(spark: SparkSession): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    val (files, bytes) = dataFiles(Paths.get(store.path))
    m.put("store_bytes", bytes); m.put("store_files", files); m.put("store_buckets", buckets)
    m.put("store_build_s", Files.readString(cache.resolve("_BUILT")).trim.toDouble)
    m
  }
}

/** Registry queries (`SparkEntry.queries`) over the corpus; the triple
  * store is not involved. The first timed execution of each query is
  * written out for the oracle check; later ones must match it.
  */
final class AnalyticsWorkload(conf: Conf, header: JsonNode) extends Workload {
  /** Per query: the canonical form, rows and schema of its first timed result. */
  private val first = scala.collection.mutable.Map.empty[String, (String, Array[Row], StructType)]
  private var last: (Array[Row], StructType) = _

  /** A query runs faster right after an execution of itself: in traced
    * and untraced pairs with no warm execution before them, whichever ran
    * first was up to 1.8 times slower.
    */
  override def warmPairs: Boolean = true

  def setup(ctx: Ctx, rep: Int): Unit = {
    val s = ctx.spark
    // the engine's long-lived views: the star triples and the graph on them
    val triples = graft.api.Tables.starTriples(s, conf.corpus)
    triples.count()
    val g = graft.graph.GraphOps.cachedGraph(triples, conf.corpus)
    g.edges.foreachPartition((_: Iterator[_]) => ())
    g.vertices.foreachPartition((_: Iterator[_]) => ())
  }

  def run(ctx: Ctx, op: JsonNode): Unit = {
    val name = op.get("kind").asText()
    val fn = graft.SparkEntry.queries(name)
    val df = ctx.tracer.span("api.build")(fn(ctx.spark, conf.corpus))
    val rows = ctx.collect(df)
    ctx.rec.out.put("rows", rows.length)
    last = (rows, df.schema)
  }

  override def after(ctx: Ctx, op: JsonNode): Unit = {
    val name = op.get("kind").asText()
    if (ctx.rec.out.containsKey("error") || last == null) return
    val (rows, schema) = last
    val canon = md5Hex(rows.map(_.toString).sorted.mkString("\n"))
    first.get(name) match {
      case None =>
        first(name) = (canon, rows, schema)
        ctx.rec.out.put("first", true)
      case Some((c, _, _)) => ctx.rec.out.put("same_as_first", c == canon)
    }
    last = null
  }

  override def finish(spark: SparkSession): Unit =
    first.foreach { case (name, (_, rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${conf.out}/results/$name")
    }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  override def stamps(spark: SparkSession): java.util.LinkedHashMap[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    val oracle = graft.SparkEntry.oracleSql
    m.put("oracle_sql", header.get("queries").elements().asScala.map(_.asText())
      .flatMap(q => oracle.get(q).map(q -> _)).toMap.asJava)
    m
  }
}
