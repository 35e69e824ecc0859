package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One session of a run: the session, its own link-copy of the inputs
  * (so caches keyed by path start cold), the run's scratch dir and seed. */
final case class Session(spark: SparkSession, inputs: String, work: String,
                         seed: Long, index: Int)

/** Marks where an op's construct phase ends: the harness times the
  * query-function call up to this point and everything after it as
  * plan + execute. */
trait OpScope { def constructed(): Unit }

/** One closed-loop operation. `run` returns the rows the op handed back
  * (0 when it wrote to a sink). `after` runs untimed once the op is done. */
final case class Op(name: String, commit: Boolean, run: OpScope => Long,
                    after: () => Unit = () => ())

trait Workload {
  def name: String
  /** Session settings beyond the common ones. */
  def conf: Map[String, String] = Map.empty
  /** Per-session preparation; counted in set-up time. */
  def prepare(s: Session): Unit = ()
  /** The ops of one pass, in the order the seed fixes. */
  def pass(s: Session, pass: Int): Seq[Op]
  /** Untimed invariant check after each pass; returns failure messages. */
  def afterPass(s: Session, pass: Int): Seq[String] = Nil
  /** Untimed once-per-run output check: (op name, message) failures. */
  def finalCheck(s: Session): Seq[(String, String)] = Nil
  /** Directories whose size the traced run records after each pass. */
  def tableRoots(s: Session): Seq[String] = Nil
  /** Extra per-layer figures the traced run measures after timing. */
  def layerProbe(s: Session): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "battery_table" => new Mix(name, Seq(new Battery(BatteryQueries), new TableRw))
    case "wiki_refs" => new WikiRefs
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Battery sample: a self-join the plan rules remove, and an
    * iterative loop (pointer doubling) whose construct phase runs 26
    * driver jobs. Both keep every file they write inside the run's own
    * directories, which queries that materialize through the library's
    * fixed scratch path do not. */
  val BatteryQueries: Seq[String] = Seq("q_selfjoin_elim", "q_tree_depth")

  def seeded[A](xs: Seq[A], seed: Long): Seq[A] = new Random(seed).shuffle(xs)
}

/** Several workloads as one closed-loop client: every pass interleaves
  * the parts' ops in the same seeded order, keeping each part's own order. */
final class Mix(val name: String, parts: Seq[Workload]) extends Workload {
  override def conf: Map[String, String] = parts.map(_.conf).reduce(_ ++ _)
  override def prepare(s: Session): Unit = parts.foreach(_.prepare(s))

  def pass(s: Session, pass: Int): Seq[Op] = {
    val queues = parts.map(p => scala.collection.mutable.Queue(p.pass(s, pass): _*))
    val slots = Workloads.seeded(queues.indices.flatMap(i => Seq.fill(queues(i).size)(i)), s.seed)
    slots.map(i => queues(i).dequeue())
  }

  override def afterPass(s: Session, pass: Int): Seq[String] = parts.flatMap(_.afterPass(s, pass))
  override def finalCheck(s: Session): Seq[(String, String)] = parts.flatMap(_.finalCheck(s))
  override def tableRoots(s: Session): Seq[String] = parts.flatMap(_.tableRoots(s))
  override def layerProbe(s: Session): Map[String, Double] =
    parts.map(_.layerProbe(s)).reduce(_ ++ _)
}

/** Battery queries into the noop sink; outputs are checked against
  * DuckDB by the runner from the parquet copies `finalCheck` writes. */
final class Battery(queries: Seq[String]) extends Workload {
  val name = "battery"
  private val fns = graft.SparkEntry.queries

  def pass(s: Session, pass: Int): Seq[Op] =
    Workloads.seeded(queries, s.seed).map { q =>
      Op(q, commit = false, { scope =>
        val df = fns(q)(s.spark, s.inputs)
        scope.constructed()
        df.write.format("noop").mode("overwrite").save()
        0L
      })
    }

  override def finalCheck(s: Session): Seq[(String, String)] = {
    val out = s"${s.work}/oracle"
    val sql = graft.SparkEntry.oracleSql
    val failed = queries.flatMap { q =>
      try {
        fns(q)(s.spark, s.inputs).coalesce(1).write.mode("overwrite")
          .parquet(s"$out/$q")
        None
      } catch { case e: Throwable => Some(q -> s"output write failed: $e") }
    }
    Json.write(s"$out/oracle_sql.json",
      queries.flatMap(q => sql.get(q).map(q -> _)).toMap)
    failed
  }
}

/** The paper's query on a generated dump: WikiPipeline.run, then the
  * sorted single-file CSV. Checked once per run against WikiExpect. */
final class WikiRefs extends Workload {
  val name = "wiki_refs"
  // 8 MB in 1 MB ranges plans eight scan splits, as a 128 MB dump does
  // at 16 MB.
  override val conf = Map("spark.sql.files.maxPartitionBytes" -> "1m")

  private def xml(s: Session) = s"${s.inputs}/dump.xml"
  private def csv(s: Session) = s"${s.work}/wiki_counts.csv"

  def pass(s: Session, pass: Int): Seq[Op] = Seq(
    Op("wiki_pipeline", commit = false, { scope =>
      val df = graft.wiki.WikiPipeline.run(s.spark, xml(s))
      scope.constructed()
      graft.wiki.WikiPipeline.writeCsv(df, csv(s))
      0L
    }))

  override def finalCheck(s: Session): Seq[(String, String)] = {
    val want = WikiExpect.counts(WikiExpect.pages(xml(s)))
    WikiExpect.diff(WikiExpect.readCsv(csv(s)), want).toSeq
      .map("wiki_pipeline" -> _)
  }

  /** Prefix runs, each into the noop sink: record scan, parse, link
    * extraction, aggregate + sort, then the full CSV write. A stage's
    * time is the difference between neighbouring prefixes. */
  override def layerProbe(s: Session): Map[String, Double] = {
    import graft.wiki.WikiPipeline._
    val spark = s.spark
    val path = xml(s)
    def noop(df: => org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val prefixes: Seq[() => Unit] = Seq(
      () => noop(graft.sources.SplittableXml.records(spark, path, "page").toDF()),
      () => noop(readPages(spark, path)),
      () => noop(links(readPages(spark, path))),
      () => noop(incomingReferenceCounts(links(readPages(spark, path)))),
      () => writeCsv(run(spark, path), csv(s)))
    val secs = prefixes.map { p =>
      Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime(); p(); (System.nanoTime() - t0) / 1e9
      })
    }
    val stage = secs.head +: secs.sliding(2).map(w => math.max(0.0, w(1) - w(0))).toSeq
    val total = stage.sum
    val names = Seq("scan", "parse", "links", "agg", "csv")
    val mb = new java.io.File(path).length() / 1e6
    names.zip(stage).flatMap { case (n, t) =>
      Seq(s"wiki.${n}_s" -> t, s"wiki.${n}_share" -> t / total)
    }.toMap ++ Map(
      "wiki.scan_mb_per_s" -> mb / secs.head,
      "wiki.splits" -> graft.sources.SplittableXml.records(spark, path, "page")
        .rdd.getNumPartitions.toDouble,
      "wiki.link_rows" -> links(readPages(spark, path)).count().toDouble)
  }
}

/** Reads and commits through the `graft` SQL catalog on a many-file
  * layout of `documents`. A pass inserts a batch of new keys, reads
  * through the bloom-planned point lookup, then deletes the batch again
  * (a deletion vector), so the live rows end each pass as they began;
  * expire + vacuum closes the pass. Untimed, right after the insert, a
  * `VERSION AS OF` read of the version before it is checked against the
  * base rows. */
final class TableRw extends Workload {
  val name = "table_rw"
  val files = 16
  override val conf = Map("graft.manifest.maxDriverFiles" -> "100000",
    "spark.sql.catalog.graft" -> classOf[graft.sources.GraftCatalog].getName)

  private def table(s: Session) = s"pb.docs${s.index}"
  private def root(s: Session) = s"${s.work}/tables/docs${s.index}"
  private var keys: Array[Long] = Array.empty
  private var langOf: Map[Long, String] = Map.empty
  private var travelWant: (Long, Long) = (0L, 0L)
  private var pointGot: Seq[(Long, String)] = Nil
  private var pointWant: Seq[(Long, String)] = Nil
  private var travelGot: (Long, Long) = (-1L, -1L)

  override def prepare(s: Session): Unit = {
    val docs = s.spark.read.parquet(s"${s.inputs}/documents.parquet")
    docs.createOrReplaceTempView("pb_src")
    graft.sources.ManifestPrune.buildLayout(docs, root(s), nFiles = files)
    graft.sources.GraftCatalog.registerTable(table(s), root(s))
    s.spark.sql(s"CALL graft.system.build_index(table => '${table(s)}')").collect()
    val rows = docs.select("doc_id", "lang", "n_chars").collect()
    keys = rows.map(_.getLong(0)).sorted
    langOf = rows.map(r => r.getLong(0) -> r.getString(1)).toMap
    // before each insert the live rows are the base rows again
    travelWant = (rows.length.toLong, rows.map(_.getLong(2)).sum)
  }

  def pass(s: Session, pass: Int): Seq[Op] = {
    val t = s"graft.${table(s)}"
    // the batch and the probed keys are fixed per run, so passes repeat
    val rnd = new Random(s.seed)
    val off = 1000000000L + pass * 100000L
    val mod = 10 + rnd.nextInt(10)
    val rem = rnd.nextInt(mod)
    val probe = Seq.fill(4)(keys(rnd.nextInt(keys.length))).distinct
    val batch = s"SELECT doc_id + $off AS doc_id, text, lang, source, n_chars " +
      s"FROM pb_src WHERE doc_id % $mod = $rem"
    def commit(n: String, sql: String, after: () => Unit = () => ()): Op =
      Op(n, commit = true, _ => { s.spark.sql(sql).collect(); 0L }, after)
    Seq(
      commit("insert", s"INSERT INTO $t $batch", { () =>
        val v = graft.sources.ManifestPrune.currentVersion(s.spark, root(s)) - 1
        val r = s.spark.sql(s"SELECT count(*), sum(n_chars) FROM $t VERSION AS OF $v")
          .collect()
        travelGot = (r(0).getLong(0), r(0).getLong(1))
      }),
      Op("point_lookup", commit = false, { scope =>
        val df = s.spark.sql(s"SELECT doc_id, lang FROM $t WHERE doc_id IN " +
          probe.mkString("(", ", ", ")"))
        scope.constructed()
        val r = df.collect()
        pointGot = r.map(x => (x.getLong(0), x.getString(1))).toSeq.sortBy(_._1)
        pointWant = probe.sorted.map(k => (k, langOf(k)))
        r.length.toLong
      }),
      commit("delete", s"DELETE FROM $t WHERE doc_id >= $off"),
      commit("expire_vacuum", s"CALL graft.system.expire_versions(" +
        s"table => '${table(s)}', keep_last => 2, grace_ms => 0)"))
  }

  override def afterPass(s: Session, pass: Int): Seq[String] = {
    val live = s.spark.sql(s"SELECT doc_id FROM graft.${table(s)}")
      .collect().map(_.getLong(0)).sorted
    Seq(
      if (java.util.Arrays.equals(live, keys)) None
      else Some(s"live key set differs: ${live.length} keys, want ${keys.length}"),
      if (pointGot == pointWant) None
      else Some(s"point lookup returned $pointGot, want $pointWant"),
      if (travelGot == travelWant) None
      else Some(s"time travel read $travelGot, want $travelWant")).flatten
  }

  override def tableRoots(s: Session): Seq[String] = Seq(root(s))
}

/** Plain numeric helpers shared by the harness and the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 < s.size) s(i) + (pos - i) * (s(i + 1) - s(i)) else s(i)
    }

  /** Highest percentile (of 50, 90, 99, 99.9) with at least ten samples
    * above it, as (percentile, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 90.0, 50.0).find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, quantile(xs, p / 100)))

  def dirSize(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val w = Files.walk(p)
      try {
        val fs = w.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (fs.length.toLong, fs.map(Files.size).sum)
      } finally w.close()
    }
  }
}
