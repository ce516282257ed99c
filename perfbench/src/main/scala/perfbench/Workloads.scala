package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.app.Main
import graft.operators.Relational
import graft.schema.Normalize
import graft.sources.Fixtures
import graft.sources.rest.PaginatedJsonSource
import graft.streaming.Streams
import graft.tables.Tables

/** Shared state of one benchmark process. `tracer` is set only while a
 * traced unit runs. */
final class Ctx(val spark: SparkSession, val seed: Long, val runDir: Path,
                val nproc: Int) {
  var tracer: Option[Tracer] = None
  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** One timed unit of work (a job, a micro-batch or a pass): its wall
 * time, the rows it committed or produced, the operations it attempted
 * and how many of them failed an output check. */
final case class UnitResult(seconds: Double, rows: Long, attempted: Int,
                            failed: Int)

trait Workload extends AutoCloseable {
  /** Inputs and state every unit needs; counted in `setup_s`. */
  def setup(): Unit
  /** Run and time unit `u` (0 is the cold unit). */
  def run(u: Int): UnitResult
  /** End-of-run check of the committed state; false on a mismatch. */
  def finalCheck(): Boolean
  /** Workload-specific per-layer metrics over the traced warm units. */
  def layer(tracer: Tracer, units: Seq[Int]): Map[String, Double]
  /** The fewest warm units a run measures, whatever `--seconds` says. */
  def minWarm: Int = 3
  override def close(): Unit = ()
}

object Workloads {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rendered(deals: Deals, order: Seq[(Long, Int)]): Vector[Array[Byte]] =
    order.grouped(Deals.PageSize).map(deals.page).toVector

  /** The fake API's counters: medians over units of (counters, data
   * pages in the unit's feed, feed bytes). */
  def restMetrics(per: Seq[(ApiStats, Int, Long)]): Map[String, Double] = Map(
    "rest.requests_per_page" -> median(per.map { case (s, pages, _) => s.requests.toDouble / pages }),
    "rest.requests" -> median(per.map(_._1.requests.toDouble)),
    "rest.retries" -> median(per.map(_._1.failures.toDouble)),
    "rest.mb_served" -> median(per.map(_._1.bytes / 1e6)),
    "rest.server_ms" -> median(per.map(_._1.busyNanos / 1e6)))

  /** Σ CRC-32 of the check string and COUNT(DISTINCT id) of a table. */
  def tableDigest(spark: SparkSession, table: String): (Long, Long) = {
    val r = spark.table(table)
      .agg(sum(expr(Deals.checkExpr)).cast("long"), countDistinct(col("id")))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}

/**
 * The deals pipeline, driven through the same public functions as
 * `Main.run`, each call timed from outside: fetch (with its JSON
 * inference pass), normalize + sort, the empty check, then the write.
 */
abstract class DealsBatch(ctx: Ctx) extends Workload {
  import Workloads._
  protected val spark: SparkSession = ctx.spark
  protected val deals = new Deals(ctx.seed)
  protected val api = new FakeApi(ctx.nproc, ctx.seed)
  protected val table = "deals_main"
  /** Per unit: server counters, pages in the unit's feed, feed bytes. */
  protected val rest = scala.collection.mutable.Map.empty[Int, (ApiStats, Int, Long)]
  /** Jobs take about 2 s: four give a median that repeats across runs. */
  override def minWarm: Int = 4

  protected def config(action: String): Main.Config =
    Main.Config(action = action, input = api.urlTemplate, table = table,
      key = "id", staging = table + "_staging", objKey = "deals",
      tsCol = "created_at")

  protected def sortedDeals(c: Main.Config): DataFrame = {
    val fetched = ctx.span("app.fetch")(Main.fetch(spark, c))
    val df = Relational.sortByCreatedAt(Normalize.normalize(fetched), c.tsCol)
    if (ctx.span("app.empty_check")(df.isEmpty))
      throw new IllegalStateException("the API served no deals")
    df
  }

  /** Time one job against the feed now served, keeping its counters. */
  protected def job(u: Int, feed: Vector[Array[Byte]])(body: => Long): (Long, Double) = {
    api.serve(feed)
    val before = api.stats
    val out = timed(ctx.span("app.job")(body))
    rest(u) = (api.stats - before, feed.size, feed.map(_.length.toLong).sum)
    out
  }

  override def layer(tracer: Tracer, units: Seq[Int]): Map[String, Double] = {
    val per = units.flatMap(rest.get)
    // each span's job group holds only its own tasks, so the unit's
    // bytes written are the sum over all of its spans
    val writeMb = units.map(u => tracer.allSpans.filter(_.unit == u)
      .map(tracer.fields(_)("write_mb")).sum)
    val carriedMb = per.map(_._3 / 1e6)
    restMetrics(per) ++ Map(
      "tables.write_mb" -> median(writeMb),
      "tables.write_amp" -> median(writeMb.zip(carriedMb).map { case (w, c) => w / c }))
  }

  override def close(): Unit = api.close()
}

/** `deals_load`: the reference's new-table path — 100,000 deals in 200
 * pages, overwrite-loaded into an empty table, then COUNT(*). */
final class DealsLoad(ctx: Ctx) extends DealsBatch(ctx) {
  import Workloads._
  private val n = 100000L
  private var feed = Vector.empty[Array[Byte]]
  private val expectedCrc = (0L until n).map(deals.checkCrc(_, 0)).sum

  override def setup(): Unit = {
    val rnd = new java.util.Random(ctx.seed)
    val ids = (0L until n).toArray
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    feed = rendered(deals, ids.toSeq.map(_ -> 0))
  }

  override def run(u: Int): UnitResult = {
    val c = config("load")
    val (count, secs) = job(u, feed) {
      val df = sortedDeals(c)
      ctx.span("tables.load")(Tables.loadOverwrite(df, table))
      ctx.span("tables.verify")(spark.table(table).count())
    }
    val ok = count == n && tableDigest(spark, table) == ((expectedCrc, n))
    Tables.dropTable(spark, table)
    UnitResult(secs, n, 1, if (ok) 0 else 1)
  }

  override def finalCheck(): Boolean = !spark.catalog.tableExists(table)
}

/** `deals_upsert`: a 1,000,000-deal main seeded at set-up; each job
 * stages a 20-page increment (half new revisions of existing ids spread
 * over the main, half new ids) and MERGEs it (staging -> merge -> swap ->
 * drop staging). */
final class DealsUpsert(ctx: Ctx) extends DealsBatch(ctx) {
  import Workloads._
  private val mainRows = 1000000
  private val perJob = 10000
  private var rev = new Array[Int](mainRows + 64 * perJob)
  private var nextId = mainRows.toLong
  private var crcSum = 0L
  private val rnd = new java.util.SplittableRandom(ctx.seed)

  override def setup(): Unit = {
    val schema = StructType(Deals.Columns.map { c =>
      StructField(c, if (Set("created_at", "pipeline", "status", "subject",
        "updated_at")(c)) StringType else LongType)
    })
    val d = deals
    val seeded = spark.range(0, mainRows, 1, ctx.nproc)
      .mapPartitions((it: Iterator[java.lang.Long]) =>
        it.map(id => Row.fromSeq(d.normalizedRow(id, 0))))(Encoders.row(schema))
    Tables.loadOverwrite(seeded, table)
    crcSum = java.util.stream.LongStream.range(0, mainRows).parallel()
      .map(deals.checkCrc(_, 0)).sum()
  }

  /** The next increment: distinct existing ids at their next revision,
   * then fresh ids, in a seeded order. */
  private def increment(): Vector[Array[Byte]] = {
    val revised = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (revised.size < perJob / 2) revised += rnd.nextLong(nextId)
    val fresh = (nextId until nextId + perJob / 2).toSeq
    if (nextId + perJob / 2 > rev.length)
      rev = java.util.Arrays.copyOf(rev, rev.length * 2)
    val batch = revised.toSeq.map { id =>
      crcSum -= deals.checkCrc(id, rev(id.toInt))
      rev(id.toInt) += 1
      crcSum += deals.checkCrc(id, rev(id.toInt))
      id -> rev(id.toInt)
    } ++ fresh.map { id => crcSum += deals.checkCrc(id, 0); id -> 0 }
    nextId += perJob / 2
    val arr = batch.toArray
    for (i <- arr.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    rendered(deals, arr.toSeq)
  }

  override def run(u: Int): UnitResult = {
    val feed = increment()
    val c = config("upsert")
    val (count, secs) = job(u, feed) {
      ctx.span("tables.catalog")(Tables.recoverSwap(spark, c.table))
      val df = sortedDeals(c)
      ctx.span("tables.load")(Tables.loadOverwrite(df, c.staging))
      try {
        ctx.span("tables.catalog")(Tables.mergeSqlText(spark, c.staging, c.table, c.key))
        ctx.span("tables.merge")(
          Tables.upsertIntoTable(spark, spark.table(c.staging), c.table, c.key))
      } finally ctx.span("tables.catalog")(Tables.dropTable(spark, c.staging))
    }
    UnitResult(secs, perJob, 1, if (count == nextId) 0 else 1)
  }

  override def finalCheck(): Boolean =
    tableDigest(spark, table) == ((crcSum, nextId)) &&
      !spark.catalog.tableExists(table + "__swap_tmp")
}

/**
 * `deals_stream`: the same feed as a change stream. Set-up starts both
 * sinks and publishes a first batch of new deals; each unit then appends
 * 4 pages (2,000 records, half of them revisions) and waits until both the
 * key-`id` upsert sink and the per-`status` lateness sink have consumed
 * them.
 */
final class DealsStream(ctx: Ctx) extends Workload {
  import Workloads._
  private val spark = ctx.spark
  private val deals = new Deals(ctx.seed)
  private val api = new FakeApi(ctx.nproc, ctx.seed)
  private val perBatch = 4 * Deals.PageSize
  private val table = "deals_stream_main"
  private val partials = ctx.runDir.resolve("lateness/partials").toString
  private val audit = ctx.runDir.resolve("lateness/audit").toString
  private val rev = scala.collection.mutable.LongMap.empty[Int]
  private var nextId = 0L
  private val rnd = new java.util.SplittableRandom(ctx.seed)
  private val rest = scala.collection.mutable.Map.empty[Int, (ApiStats, Int, Long)]
  private var queries = Seq.empty[StreamingQuery]

  /** The API's JSON shape, as the micro-batch source leaves it (raw
   * strings); Normalize then applies the same name rules as the batch path. */
  private val jsonSchema = StructType(Seq(
    StructField("amount", StringType), StructField("created_at", StringType),
    StructField("customer_id", LongType), StructField("deal_no", LongType),
    StructField("id", LongType), StructField("is_active", BooleanType),
    StructField("pipeline", StructType(Seq(StructField("id", LongType),
      StructField("name", StringType)))),
    StructField("requester_id", LongType), StructField("status", StringType),
    StructField("subject", StringType), StructField("updated_at", StringType)))

  override def setup(): Unit = {
    val raw = spark.readStream.format(classOf[PaginatedJsonSource].getName)
      .option("url", api.urlTemplate).option("objKey", "deals").load()
    val parsed = raw.select(from_json(col("value"), jsonSchema).as("d")).select("d.*")
    val stream = Normalize.normalize(parsed, tsAsString = false)
    val ckpt = ctx.runDir.resolve("checkpoints")
    queries = Seq(
      Streams.upsertSink(stream, table, "id", "updated_at",
        ckpt.resolve("upsert").toString),
      Streams.latenessSink(stream, partials, audit,
        ckpt.resolve("lateness").toString, grpCol = "status", tsCol = "updated_at"))
    // the first batch only creates the upsert table; publish it here so
    // every timed batch, the cold one included, is a real merge
    publishAndAwait()
  }

  private def nextBatch(): Seq[Array[Byte]] = {
    val revised = scala.collection.mutable.LinkedHashSet.empty[Long]
    val wantRevised = if (nextId == 0) 0 else perBatch / 2
    while (revised.size < wantRevised) revised += rnd.nextLong(nextId)
    val fresh = nextId until nextId + (perBatch - wantRevised)
    nextId += fresh.size
    val batch = revised.toSeq.map { id => rev(id) = rev(id) + 1; id -> rev(id) } ++
      fresh.map { id => rev(id) = 0; id -> 0 }
    rendered(deals, batch)
  }

  private def consumed(q: StreamingQuery): Long =
    Option(q.lastProgress).flatMap(_.sources.headOption)
      .flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(0L)

  /** Publish the next batch and wait until both sinks have consumed
   * every record published so far. */
  private def publishAndAwait(): (Seq[Array[Byte]], Double) = {
    val pages = nextBatch()
    val (_, secs) = timed {
      api.append(pages)
      val total = api.pageCount.toLong * Deals.PageSize
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (queries.exists(q => consumed(q) < total)) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        if (System.nanoTime() > deadline)
          throw new IllegalStateException(s"the sinks did not consume record $total")
        Thread.sleep(1)
      }
    }
    (pages, secs)
  }

  override def run(u: Int): UnitResult = {
    val before = api.stats
    val (pages, secs) = publishAndAwait()
    rest(u) = (api.stats - before, pages.size, pages.map(_.length.toLong).sum)
    UnitResult(secs, perBatch, 1, 0)
  }

  override def finalCheck(): Boolean = {
    queries.foreach(_.stop())
    val expectedCrc = rev.iterator.map { case (id, r) => deals.checkCrc(id, r) }.sum
    val batches = Files.list(Paths.get(audit)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).toSeq
    val folded = spark.read.parquet(s"$audit/batch=${batches.max}")
      .agg(sum("n")).head().getLong(0)
    Workloads.tableDigest(spark, table) == ((expectedCrc, rev.size.toLong)) &&
      folded == api.pageCount.toLong * Deals.PageSize
  }

  override def layer(tracer: Tracer, units: Seq[Int]): Map[String, Double] = {
    val prog = tracer.progress.asScala.toSeq
    val Seq(upsertId, latenessId) = queries.map(_.id.toString)
    def addBatch(id: String) = median(prog.filter(_._1 == id).map(_._3.toDouble))
    def taskMsPerBatch(id: String) = {
      val n = prog.count(_._1 == id)
      if (n == 0) 0.0 else tracer.stats(tracer.streamGroup(id)).taskMs.toDouble / n
    }
    val per = units.flatMap(rest.get)
    val writeMb = queries.map(q => tracer.stats(tracer.streamGroup(q.id.toString)).writeBytes)
      .sum / 1e6 / math.max(1, prog.count(_._1 == upsertId))
    val carriedMb = median(per.map(_._3 / 1e6))
    val partialFiles = Files.walk(Paths.get(partials)).iterator().asScala
      .count(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
    restMetrics(per) ++ Map(
      "streaming.upsert.add_batch_ms" -> addBatch(upsertId),
      "streaming.lateness.add_batch_ms" -> addBatch(latenessId),
      "streaming.upsert.task_ms" -> taskMsPerBatch(upsertId),
      "streaming.lateness.task_ms" -> taskMsPerBatch(latenessId),
      "streaming.latest_offset_ms" -> median(prog.map(_._4.toDouble)),
      "streaming.partials_files" -> partialFiles.toDouble,
      "tables.write_mb" -> writeMb,
      "tables.write_amp" -> (if (carriedMb > 0) writeMb / carriedMb else 0.0))
  }

  override def close(): Unit = {
    queries.foreach(q => if (q.isActive) q.stop())
    api.close()
  }
}

/**
 * `corpus_ops`: one pass builds each query of [[BenchMain.Queries]]
 * through `SparkEntry.queries` (in a seeded order) and runs it with a
 * `noop` write. Each output's
 * row count and order-insensitive row hash are observed during that same
 * write and compared with the pins in `corpus_pins.json`.
 */
final class CorpusOps(ctx: Ctx, sfDir: String) extends Workload {
  import Workloads._
  private val spark = ctx.spark
  private val names = BenchMain.Queries
  private val fixtureTables = Seq("documents", "embeddings")
  private val pins: Map[String, (Long, Long)] = {
    val node = Json.mapper.readTree(getClass.getResourceAsStream("/corpus_pins.json"))
    names.map(q => q -> ((node.get(q).get("rows").asLong, node.get(q).get("hash").asLong))).toMap
  }
  private val rnd = new java.util.Random(ctx.seed)

  /** A pass takes about 4 s: three give a median of real passes. */
  override def minWarm: Int = 3

  override def setup(): Unit = {
    require(Files.isDirectory(Paths.get(sfDir)),
      s"fixture directory $sfDir not found (set SPARK_GRAFT_SF_DIR)")
  }

  /** Order-insensitive digest: Σ CRC-32 over a canonical text of each
   * row; doubles are rounded to 6 places so the digest does not depend on
   * the summation order a different core count gives. */
  private def digest(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val text = f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6).cast(StringType)
        case _: ArrayType | _: StructType | _: MapType => to_json(c)
        case BinaryType => base64(c)
        case _ => c.cast(StringType)
      }
      coalesce(text, lit("\\N"))
    }
    Seq(count(lit(1)).as("rows"),
      sum(crc32(concat_ws("\u0001", cols: _*).cast(BinaryType))).cast(LongType).as("hash"))
  }

  override def run(u: Int): UnitResult = {
    val order = scala.util.Random.javaRandomToRandom(rnd).shuffle(names)
    var failed = 0
    var rows = 0L
    val (_, secs) = timed {
      order.foreach { q =>
        val df = ctx.span(s"ops.$q.build")(SparkEntry.queries(q)(spark, sfDir))
        val obs = Observation(s"check_$q")
        val d = digest(df)
        val checked = df.observe(obs, d.head, d.tail: _*)
        ctx.span(s"ops.$q.exec")(checked.write.format("noop").mode("overwrite").save())
        val m = obs.get
        val got = (m("rows").asInstanceOf[Long], m("hash").asInstanceOf[Long])
        rows += got._1
        if (pins(q) != got) {
          System.err.println(s"[perfbench] $q: (rows, hash) = $got, pinned ${pins(q)}")
          failed += 1
        }
      }
    }
    if (ctx.tracer.isDefined)
      fixtureTables.foreach(t => ctx.span("sources.fixture_read")(Fixtures.table(spark, sfDir, t)))
    UnitResult(secs, rows, names.size, failed)
  }

  override def finalCheck(): Boolean = true

  override def layer(tracer: Tracer, units: Seq[Int]): Map[String, Double] = Map.empty
}
