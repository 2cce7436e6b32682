package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** `query_mix`: the analyst side. Six read-only queries, one per
  * family, through `SparkEntry.queries` on tables equal to the sf0.1
  * test data: a cold correctness pass, one untimed warm round, then one
  * timed round, each running every query once in the seed's order and forcing it with a noop write, with `graft.Bench`'s
  * cache hygiene between queries. No ingest code runs except the
  * `IngestPipeline` that q6 shares with the streams. */
object QueryMix {
  import GraftBench._

  /** The queries, by layer family. */
  val QueryFamilies: Seq[(String, String)] = Seq(
    "sql" -> "q6_ingest_accepted",
    "text" -> "doc_hash_classifier",
    "dedup" -> "dedup_clusters",
    "vector" -> "ann_ivf_probek",
    "table" -> "snapshot_sql_travel",
    "media" -> "media_decode")

  private final case class Exec(name: String, label: String, t0: Long, t1: Long, t2: Long)

  /** Order-insensitive fingerprint: rows rendered with columns sorted
    * by name and floating-point values rounded to 6 significant
    * digits, then sorted and hashed. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) d.toString
        else new java.math.BigDecimal(d).round(new java.math.MathContext(6)).stripTrailingZeros.toPlainString
      case f: Float => render(f.toDouble)
      case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case a: Array[Byte] => a.map("%02x".format(_)).mkString
      case x => x.toString
    }
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect()
    val lines = rows.map(r => r.toSeq.map(render).mkString("\t")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    (rows.length.toLong, md.digest().take(8).map("%02x".format(_)).mkString)
  }

  /** Graft.Bench's hygiene between queries: no cached table or RDD
    * carries over. */
  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(ctx: Ctx, res: Result, tables: String, expectedFile: Option[String],
          recordFile: Option[String], dumpDir: Option[String]): Unit = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val names = new Random(ctx.seed).shuffle(QueryFamilies.map(_._2))
    val expected: Map[String, (Long, String)] = expectedFile.map { f =>
      scala.io.Source.fromFile(f).getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, c, h) = l.split("\t"); n -> (c.toLong, h)
      }.toMap
    }.getOrElse(Map.empty)

    // the cold pass: correctness, which also warms every plan
    val recorded = ArrayBuffer.empty[String]
    names.foreach { name =>
      sc.setLocalProperty(JobMeter.QueryKey, s"check:$name")
      res.attempted += 1
      try {
        val df = SparkEntry.queries(name)(spark, tables)
        dumpDir.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
        val (n, h) = fingerprint(df)
        recorded += s"$name\t$n\t$h"
        expected.get(name) match {
          case Some((en, eh)) if en != n || eh != h =>
            res.fail(s"query $name: $n rows / fingerprint $h, expected $en rows / $eh")
          case None if recordFile.isEmpty => res.fail(s"query $name: no recorded fingerprint")
          case _ =>
        }
      } catch { case e: Throwable =>
        res.fail(s"query $name threw in the correctness pass: ${e.toString.take(300)}")
      }
      hygiene(spark)
      note(s"checked $name")
    }
    sc.setLocalProperty(JobMeter.QueryKey, null)
    recordFile.foreach(f => Files.writeString(Paths.get(f),
      recorded.sorted.mkString("", "\n", "\n"), StandardCharsets.UTF_8))
    dumpDir.foreach { d =>
      val sql = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
      Files.writeString(Paths.get(s"$d/oracle_sql.json"),
        sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",\n", "}"))
    }

    /** One round: every query once, built by `SparkEntry.queries` and
      * forced with a noop write. */
    def round(tag: String): Seq[Exec] = names.map { name =>
      val label = s"$name#$tag"
      sc.setLocalProperty(JobMeter.QueryKey, label)
      res.attempted += 1
      val t0 = Clock.nowNs
      var t1 = t0
      try {
        val df = SparkEntry.queries(name)(spark, tables)
        t1 = Clock.nowNs
        df.write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        res.fail(s"query $name threw in the $tag round: ${e.toString.take(300)}")
      }
      val t2 = Clock.nowNs
      sc.setLocalProperty(JobMeter.QueryKey, null)
      hygiene(spark)
      Exec(name, label, t0, t1, t2)
    }
    // one warm and one timed round: more do not fit the benchmark's
    // time budget
    round("warm")
    note("warm-up done")
    res.setupEndNs = Clock.nowNs
    val window = new Window(res)
    val execs = round("timed")
    window.end(execs.size.toLong)
    val roundMs = execs.map(x => (x.t2 - x.t0) / 1e6).sum
    note(s"timed round: $roundMs ms")
    org.apache.spark.graftbench.BusDrain(sc)

    // the timed round is the analyst's whole report: its time is the sum
    // of the six queries' wall times
    res.e2e("latency_p50_ms") = roundMs
    res.e2e("throughput_per_s") = execs.size / (roundMs / 1000.0)

    // per query, from the meters
    val byLabel = ctx.jobs.allJobs.filter(_.query.isDefined).groupBy(_.query.get)
    val plans = ctx.plans.all
    val family = QueryFamilies.map(_.swap).toMap
    execs.foreach { e =>
      val js = byLabel.getOrElse(e.label, Nil)
      val st = ctx.jobs.ranStages(js)
      val (s0, s2) = (e.t0 / 1000000L, e.t2 / 1000000L)
      val jobUnion = Stats.unionLen(js.map(j => (math.max(j.startMs, s0), math.min(j.endOrStartMs, s2))))
      val planningMs = plans.filter(p => p.startMs >= s0 && p.endMs <= s2).map(_.planningMs).sum
      val wall = (e.t2 - e.t0) / 1e9
      if (ctx.tracer.enabled) {
        val id = ctx.tracer.span(0L, "queries.query", e.t0, e.t2)
        val b = ctx.tracer.span(id, "queries.build", e.t0, e.t1)
        val x = ctx.tracer.span(id, "queries.exec", e.t1, e.t2)
        js.foreach { j =>
          val js0 = Clock.msToNs(j.startMs)
          ctx.tracer.span(if (js0 < e.t1) b else x, "spark.job", js0, Clock.msToNs(j.endOrStartMs))
        }
      }
      val L = res.layer
      val fam = family(e.name)
      L(s"queries.$fam.wall_s") = wall
      L(s"queries.$fam.build_s") = (e.t1 - e.t0) / 1e9
      L(s"queries.$fam.exec_s") = (e.t2 - e.t1) / 1e9
      L(s"queries.$fam.planning_s") = planningMs / 1000.0
      L(s"queries.$fam.driver_gap_s") = math.max(0.0, wall - jobUnion / 1000.0)
      L(s"queries.$fam.jobs") = js.size.toDouble
      L(s"queries.$fam.tasks") = st.map(_.tasks.sum).sum.toDouble
      L(s"queries.$fam.one_task_stage_frac") = if (st.isEmpty) 0.0 else st.count(_.tasks.sum == 1).toDouble / st.size
      L(s"queries.$fam.exec_cpu_s") = st.map(_.cpuNs.sum).sum / 1e9
      L(s"queries.$fam.shuffle_mb") = st.map(_.shuffleBytes.sum).sum / 1048576.0
    }
    res.validity ++= Seq("queries" -> names.size.toDouble, "warm_rounds" -> 1.0, "rounds" -> 1.0)
    res.validityText ++= Seq("query_order" -> names.mkString(","), "round_ms" -> f"$roundMs%.0f")
  }
}
