package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Snapshots]]: snapshot isolation (old versions byte-stable under
  * new commits), atomic manifest publication, optimistic-concurrency
  * refusal, time travel, and vacuum retention.
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft-snap").toString

  private def df(vals: Long*) = vals.toDF("id")
    .withColumn("payload", concat(lit("row-"), col("id")))

  test("commit/read round-trips and versions advance") {
    val dir = fresh()
    assert(Snapshots.currentVersion(dir) === -1L)
    assert(Snapshots.commit(df(1, 2, 3), dir) === 0L)
    assert(Snapshots.commit(df(10, 20), dir) === 1L)
    assert(Snapshots.currentVersion(dir) === 1L)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().toSet
      === Set(10L, 20L))
  }

  test("time travel: every committed version stays readable as written") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir)
    Snapshots.commit(df(3), dir)
    Snapshots.commit(df(4, 5, 6), dir)
    assert(Snapshots.read(spark, dir, 0).select("id").as[Long].collect().toSet === Set(1L, 2L))
    assert(Snapshots.read(spark, dir, 1).select("id").as[Long].collect().toSet === Set(3L))
    assert(Snapshots.read(spark, dir, 2).select("id").as[Long].collect().toSet === Set(4L, 5L, 6L))
  }

  /** The version's RESOLVED file list — folded across delta manifests
    * (r15), exactly what a reader scans. */
  private def manifestFiles(dir: String, v: Long): Seq[String] =
    Snapshots.manifestAt(dir, v).files

  test("a new commit never touches the files an old version references") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir)
    def filesOf(v: Long): Map[String, Long] =
      manifestFiles(dir, v).map { rel =>
        val p = java.nio.file.Paths.get(dir).resolve(rel)
        rel -> java.nio.file.Files.getLastModifiedTime(p).toMillis
      }.toMap
    val before = filesOf(0L)
    Snapshots.commit(df(99), dir)
    assert(filesOf(0L) === before, "v0 files must be physically untouched")
  }

  test("optimistic concurrency: a stale expected version refuses to commit") {
    val dir = fresh()
    Snapshots.commit(df(1), dir) // v0
    Snapshots.commit(df(2), dir) // v1 — the "racer"
    val e = intercept[IllegalArgumentException] {
      Snapshots.commit(df(3), dir, expectedVersion = Some(0L))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the failed commit must not have advanced the table
    assert(Snapshots.currentVersion(dir) === 1L)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().toSet === Set(2L))
  }

  test("commitAppend references the previous files by name and appends the new ones") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0
    val v0Files = manifestFiles(dir, 0L).toSet
    Snapshots.commitAppend(df(3, 4), dir) // v1 = v0 files + new
    val v1Files = manifestFiles(dir, 1L).toSet
    assert(v0Files.subsetOf(v1Files), "append must reference every v0 file")
    assert(v1Files.size > v0Files.size, "append must add fresh files")
    assert(Snapshots.read(spark, dir, 1).select("id").as[Long].collect().toSet
      === Set(1L, 2L, 3L, 4L))
    assert(Snapshots.read(spark, dir, 0).select("id").as[Long].collect().toSet
      === Set(1L, 2L), "v0 stays readable as written")
  }

  test("schema evolution: appended column NULL-backfills on read; retype fails loudly") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0: (id, payload)
    Snapshots.commitAppend(df(3).withColumn("quality", col("id") * 10), dir) // v1 adds quality
    val v1 = Snapshots.read(spark, dir, 1)
    assert(v1.columns.toSeq === Seq("id", "payload", "quality"))
    val rows = v1.select("id", "quality").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows === Map(1L -> None, 2L -> None, 3L -> Some(30L)),
      "pre-evolution files must read the new column as NULL")
    // the OLD version presented in the latest schema: quality all NULL
    val aligned = Snapshots.readAligned(spark, dir, 0)
    assert(aligned.columns.toSeq === Seq("id", "payload", "quality"))
    assert(aligned.filter(col("quality").isNotNull).count() === 0L)
    // retyping an existing column is refused at commit time
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitAppend(df(4).withColumn("quality", lit("high")), dir)
    }
    assert(e.getMessage.contains("type conflict"))
  }

  test("a torn manifest (missing #end trailer) is detected, not served truncated") {
    val dir = fresh()
    Snapshots.commit(df(1, 2, 3), dir)
    val m = java.nio.file.Paths.get(dir).resolve("_v000000.manifest")
    val torn = new String(java.nio.file.Files.readAllBytes(m))
      .split("\n").dropRight(1).mkString("\n") // crash before the trailer
    java.nio.file.Files.write(m, torn.getBytes)
    // drop the checksum sidecar: a real torn write flushes a crc
    // consistent with the truncated bytes, so the TRAILER must catch it
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir).resolve("._v000000.manifest.crc"))
    val e = intercept[IllegalArgumentException](Snapshots.read(spark, dir, 0))
    assert(e.getMessage.contains("torn manifest"))
    // a manifest torn INSIDE its header must ALSO diagnose loudly —
    // not fall back to the v1 parser with '#graft-man' as a "file"
    java.nio.file.Files.write(m, "#graft-man".getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir).resolve("._v000000.manifest.crc"))
    val e2 = intercept[IllegalArgumentException](Snapshots.read(spark, dir, 0))
    assert(e2.getMessage.contains("torn manifest"))
  }

  test("the data-directory errorifexists write is the first commit mutex") {
    val dir = fresh()
    Snapshots.commit(df(1), dir) // v0
    // a racer's half-finished v1 data directory blocks the commit
    // BEFORE any manifest could publish (the documented decisive
    // mutex — the no-overwrite manifest create is the second line)
    val racer = java.nio.file.Paths.get(dir, "data", "v000001")
    java.nio.file.Files.createDirectories(racer)
    java.nio.file.Files.write(racer.resolve("part-racer.parquet"), Array[Byte](1))
    intercept[Exception](Snapshots.commit(df(2), dir))
    assert(Snapshots.currentVersion(dir) === 0L, "failed commit must not publish")
  }

  test("snapshot diff: append lineage scans ONLY the appended files (clean files pruned)") {
    val dir = fresh()
    Snapshots.commit(df(1, 2, 3), dir) // v0
    Snapshots.commitAppend(df(10, 11), dir) // v1 = append-only
    val v0Files = manifestFiles(dir, 0L).toSet
    val diff = Snapshots.diffVersions(spark, dir, 0L, 1L, "id", Seq("id", "payload"))
    val out = diff.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set(10L -> "inserted", 11L -> "inserted"))
    // the load-bearing scale property: no shared (v0) file is opened
    val opened = diff.inputFiles.map(_.replaceFirst("^file:/+", "/")).toSet
    assert(opened.nonEmpty)
    assert(v0Files.forall(rel => !opened.exists(_.endsWith(rel))),
      s"shared files must never be rescanned; opened=$opened")
  }

  test("snapshot diff: rewrite lineage labels inserted/deleted/changed like TableDiff") {
    val dir = fresh()
    Snapshots.commit(df(1, 2, 3, 4), dir) // v0
    val mutated = df(2, 3, 4, 5) // 1 deleted, 5 inserted
      .withColumn("payload",
        when(col("id") === 3, lit("row-3-CHANGED")).otherwise(col("payload")))
    Snapshots.commit(mutated, dir) // v1: full rewrite
    val out = Snapshots.diffVersions(spark, dir, 0L, 1L, "id", Seq("id", "payload"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set(1L -> "deleted", 3L -> "changed", 5L -> "inserted"))
  }

  test("changelog since a cursor concatenates per-step diffs stamped with their version") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir)        // v0
    Snapshots.commitAppend(df(3), dir)     // v1: +3
    Snapshots.commit(                      // v2: 2 changed, 1/3 kept
      df(1, 2, 3).withColumn("payload",
        when(col("id") === 2, lit("row-2-CHANGED")).otherwise(col("payload"))), dir)
    val log = Snapshots.changelog(spark, dir, sinceVersion = 0L,
        "id", Seq("id", "payload"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(log === Set((3L, "inserted", 1L), (2L, "changed", 2L)))
    // a caught-up cursor yields the empty changelog
    assert(Snapshots.changelog(spark, dir, sinceVersion = 2L,
      "id", Seq("id", "payload")).count() === 0L)
    // a cursor beyond the table refuses
    intercept[IllegalArgumentException](
      Snapshots.changelog(spark, dir, 3L, "id", Seq("id", "payload")))
  }

  test("processNewVersions: cursor advances per version, replays after a crash, idles when caught up") {
    val dir = fresh()
    val cursor = java.nio.file.Paths.get(fresh(), "cursor").toString
    Snapshots.commit(df(1, 2), dir)    // v0
    Snapshots.commitAppend(df(3), dir) // v1
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Set[(Long, String)])]()
    def consume(b: org.apache.spark.sql.DataFrame, v: Long): Unit =
      seen += v -> b.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(Snapshots.processNewVersions(spark, dir, cursor, "id",
      Seq("id", "payload"))(consume) === 1L)
    assert(seen.toSeq === Seq(
      0L -> Set(1L -> "inserted", 2L -> "inserted"), // v0 = full snapshot
      1L -> Set(3L -> "inserted")))                  // v1 = appended rows only
    // caught up: nothing re-delivered
    seen.clear()
    Snapshots.processNewVersions(spark, dir, cursor, "id", Seq("id", "payload"))(consume)
    assert(seen.isEmpty)
    // crash mid-version: cursor must NOT advance past the failure
    Snapshots.commit(df(3, 4), dir) // v2: 1,2 deleted; 4 inserted
    Snapshots.commitAppend(df(5), dir) // v3
    intercept[RuntimeException] {
      Snapshots.processNewVersions(spark, dir, cursor, "id", Seq("id", "payload")) {
        (b, v) => if (v == 3L) throw new RuntimeException("sink down") else consume(b, v)
      }
    }
    assert(seen.map(_._1).toSeq === Seq(2L))
    // recovery replays EXACTLY the failed version (at-least-once)
    seen.clear()
    Snapshots.processNewVersions(spark, dir, cursor, "id", Seq("id", "payload"))(consume)
    assert(seen.toSeq === Seq(3L -> Set(5L -> "inserted")))
  }

  test("processNewVersions vs vacuum: fresh consumers bootstrap from the earliest retained snapshot; lagging cursors fail loudly; ahead cursors refuse") {
    val dir = fresh()
    Snapshots.commit(df(1), dir)        // v0
    Snapshots.commit(df(1, 2), dir)     // v1
    Snapshots.commitAppend(df(3), dir)  // v2
    Snapshots.vacuum(dir, keepFrom = 1L) // v0 history is gone
    // fresh consumer: bootstraps from v1 as a FULL snapshot (the net
    // effect of everything vacuumed), then consumes v2's diff
    val cursor = java.nio.file.Paths.get(fresh(), "cursor").toString
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Set[(Long, String)])]()
    Snapshots.processNewVersions(spark, dir, cursor, "id", Seq("id", "payload")) {
      (b, v) => seen += v -> b.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    }
    assert(seen.toSeq === Seq(
      1L -> Set(1L -> "inserted", 2L -> "inserted"),
      2L -> Set(3L -> "inserted")))
    // lagging cursor below the retention floor: exact catch-up is
    // impossible (intermediate deletes are gone) — loud refusal
    Snapshots.vacuum(dir, keepFrom = 2L)
    val behind = java.nio.file.Paths.get(fresh(), "cursor")
    java.nio.file.Files.write(behind, "0".getBytes)
    val e = intercept[IllegalStateException] {
      Snapshots.processNewVersions(spark, dir, behind.toString,
        "id", Seq("id", "payload"))((_, _) => ())
    }
    assert(e.getMessage.contains("vacuumed"))
    // the boundary cursor (exactly earliest-1) needs MANIFEST
    // earliest-1 for its first diff — same loud refusal, not a
    // confusing version-does-not-exist error (review-caught
    // off-by-one)
    val boundary = java.nio.file.Paths.get(fresh(), "cursor")
    java.nio.file.Files.write(boundary, "1".getBytes)
    val e3 = intercept[IllegalStateException] {
      Snapshots.processNewVersions(spark, dir, boundary.toString,
        "id", Seq("id", "payload"))((_, _) => ())
    }
    assert(e3.getMessage.contains("vacuumed"))
    // cursor AHEAD of the table (recreated table / wrong file): refuse
    val ahead = java.nio.file.Paths.get(fresh(), "cursor")
    java.nio.file.Files.write(ahead, "9".getBytes)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.processNewVersions(spark, dir, ahead.toString,
        "id", Seq("id", "payload"))((_, _) => ())
    }
    assert(e2.getMessage.contains("re-bootstrap"))
  }

  test("legacy v1 manifests (bare file list) stay readable; appends on top merge by inference") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0, written as v2 format
    val m = java.nio.file.Paths.get(dir).resolve("_v000000.manifest")
    // rewrite v0's manifest in the PRE-r10 format: bare relative paths
    java.nio.file.Files.write(m,
      (manifestFiles(dir, 0L).mkString("\n") + "\n").getBytes)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir).resolve("._v000000.manifest.crc"))
    assert(Snapshots.read(spark, dir, 0).select("id").as[Long].collect().toSet
      === Set(1L, 2L), "v1 manifest must read (schema inferred from files)")
    // an append on a legacy base infers the base schema once and merges
    Snapshots.commitAppend(df(3).withColumn("extra", lit(7L)), dir)
    val v1 = Snapshots.read(spark, dir, 1)
    assert(v1.columns.toSeq === Seq("id", "payload", "extra"))
    assert(v1.filter(col("extra").isNotNull).select("id").as[Long].collect().toSeq
      === Seq(3L))
  }

  test("legacy v1 and v2-era bases serve read's schema on every face") {
    val base = fresh()
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.base", base)
    /** A table at `base/name` whose v0 is rewritten into an older
      * manifest generation: a v1 bare file list, or a v2-era manifest
      * (schema recorded, no cols=/maxcol=). */
    def legacy(name: String, v1: Boolean): String = {
      val dir = s"$base/$name"
      Snapshots.commit(df(1, 2), dir)
      val m = java.nio.file.Paths.get(dir).resolve("_v000000.manifest")
      val body =
        if (v1) manifestFiles(dir, 0L).mkString("\n") + "\n"
        else new String(Files.readAllBytes(m)).split("\n").map { l =>
          if (l.startsWith("#graft-manifest"))
            l.split("\\s+").filterNot(p =>
              p.startsWith("cols=") || p.startsWith("maxcol=")).mkString(" ")
          else l
        }.mkString("\n")
      Files.write(m, body.getBytes)
      Files.deleteIfExists(java.nio.file.Paths.get(dir).resolve("._v000000.manifest.crc"))
      dir
    }
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(fd => (fd.name, fd.dataType))
    def ids(d: org.apache.spark.sql.DataFrame) = d.select("id").as[Long].collect().toSet
    for ((gen, v1) <- Seq("v1" -> true, "v2" -> false)) {
      val ro = legacy(s"${gen}ro", v1)
      val want = Snapshots.read(spark, ro, 0).schema
      assert(shape(want) === Seq("id" -> org.apache.spark.sql.types.LongType,
        "payload" -> org.apache.spark.sql.types.StringType), gen)
      val cf = Snapshots.changeFeed(spark, ro, 0)
      assert(shape(cf.schema).take(2) === shape(want), gen)
      assert(ids(cf) === Set(1L, 2L), gen)
      val sql = spark.sql(s"SELECT * FROM graft.${gen}ro")
      assert(shape(sql.schema) === shape(want), gen)
      assert(ids(sql) === Set(1L, 2L), gen)
      assert(shape(spark.readStream.format("graft-snapshots").load(ro).schema)
        === shape(want), gen)
      assert(Snapshots.history(spark, ro).filter(col("version") === 0L)
        .select("columns").as[Int].head() === 2, gen)

      val rn = legacy(s"${gen}rn", v1)
      Snapshots.renameColumn(rn, "payload", "body")
      val renamed = Snapshots.read(spark, rn)
      assert(shape(renamed.schema) === Seq("id" -> want("id").dataType,
        "body" -> want("payload").dataType), gen)
      assert(renamed.select("body").as[String].collect().toSet
        === Set("row-1", "row-2"), gen)

      val sp = legacy(s"${gen}sp", v1)
      Snapshots.setTableProperties(sp, Map("owner" -> Some("ingest")))
      assert(shape(Snapshots.read(spark, sp).schema) === shape(want), gen)
      assert(Snapshots.currentManifest(sp).props.get("owner") === Some("ingest"), gen)

      val rs = legacy(s"${gen}rs", v1)
      Snapshots.commitAppend(df(3), rs)
      Snapshots.restore(rs, 0L)
      val restored = Snapshots.read(spark, rs)
      assert(shape(restored.schema) === shape(want), gen)
      assert(ids(restored) === Set(1L, 2L), gen)
    }
  }

  test("vacuum under append lineage keeps files a surviving manifest still references") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0
    Snapshots.commitAppend(df(3), dir) // v1 shares v0's files
    Snapshots.vacuum(dir, keepFrom = 1L)
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 0))
    // v1 must still read in full — its shared files survived the vacuum
    assert(Snapshots.read(spark, dir, 1).select("id").as[Long].collect().toSet
      === Set(1L, 2L, 3L))
  }

  test("vacuum drops old versions and their files, keeps the survivors") {
    val dir = fresh()
    Snapshots.commit(df(1), dir)
    Snapshots.commit(df(2), dir)
    Snapshots.commit(df(3), dir)
    Snapshots.vacuum(dir, keepFrom = 2L)
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 0))
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 1))
    assert(Snapshots.read(spark, dir, 2).select("id").as[Long].collect().toSet === Set(3L))
    // vacuumed data directories hold no parquet anymore
    val leftover = Files.walk(java.nio.file.Paths.get(dir, "data"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    val parquets = new scala.collection.mutable.ArrayBuffer[String]
    leftover.forEachRemaining(p => if (p.toString.endsWith(".parquet")) parquets += p.toString)
    assert(parquets.forall(_.contains("v000002")), parquets.mkString(","))
  }

  test("vacuum reclaims an aged orphan data dir from a crashed commit, unwedging the version") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0
    // simulate a commit that crashed BETWEEN writeData and publish:
    // data/v000001 exists, manifest does not — every retry of the
    // next commit recomputes version 1 and dies on errorifexists
    val orphan = java.nio.file.Paths.get(dir, "data", "v000001")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-00000-crashed.parquet"), Array[Byte](1, 2, 3))
    intercept[Exception](Snapshots.commit(df(9), dir)) // wedged
    // a FRESH orphan is never swept — it may be a live publisher
    // mid-write (the same 1-hour age gate as the manifest-temp sweep)
    Snapshots.vacuum(dir, keepFrom = 0L)
    assert(Files.exists(orphan), "fresh orphan must survive the age gate")
    // age it past the gate — the WHOLE subtree, as a real crashed
    // commit would be (the gate checks the newest mtime anywhere
    // under the dir, not just the top); the sweep reclaims it and
    // commits resume
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    Files.setLastModifiedTime(orphan.resolve("part-00000-crashed.parquet"), aged)
    Files.setLastModifiedTime(orphan, aged)
    Snapshots.vacuum(dir, keepFrom = 0L)
    assert(!Files.exists(orphan), "aged orphan must be swept")
    assert(Snapshots.commit(df(9), dir) === 1L)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().toSet === Set(9L))
  }

  test("vacuum never sweeps an in-flight commit whose tasks still write under _temporary") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0
    // simulate a LONG-RUNNING data-write phase: the top-level
    // data/v000001 dir was created over an hour ago, but Spark's task
    // output lands under nested _temporary/... subdirs whose creates
    // bump only their immediate parent — the top dir's mtime goes
    // stale while the commit is still alive (advisor r11). The age
    // gate must look at the newest mtime in the SUBTREE.
    val inflight = java.nio.file.Paths.get(dir, "data", "v000001")
    val taskDir = inflight.resolve("_temporary").resolve("0")
    Files.createDirectories(taskDir)
    Files.write(taskDir.resolve("part-00000-attempt.parquet"), Array[Byte](1))
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    Files.setLastModifiedTime(inflight, aged) // stale TOP mtime only
    Snapshots.vacuum(dir, keepFrom = 0L)
    assert(Files.exists(inflight),
      "in-flight commit with fresh task output must survive the sweep")
    // once the whole subtree is old it IS a crashed orphan — sweep it
    Files.walk(inflight).iterator()
      .asInstanceOf[java.util.Iterator[java.nio.file.Path]]
      .forEachRemaining(p => Files.setLastModifiedTime(p, aged))
    Snapshots.vacuum(dir, keepFrom = 0L)
    assert(!Files.exists(inflight), "fully-aged orphan must still be swept")
  }

  test("vacuum never strips a live stream attempt's ownership sentinel, even an aged one (advisor r16)") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0
    // a stream attempt at v1: data written, sentinel dropped, publish
    // still pending (e.g. a long footer-stats job). The SENTINEL file
    // is old, but the attempt's data subtree is fresh — deleting the
    // sentinel would strip the ownership proof, so a later crash
    // leaves a no-sentinel orphan that wedges the stream.
    val attempt = java.nio.file.Paths.get(dir, "data", "v000001")
    Files.createDirectories(attempt)
    Files.write(attempt.resolve("part-00000-live.parquet"), Array[Byte](1))
    val sentinel = java.nio.file.Paths.get(dir, "data", "v000001.stream")
    Files.write(sentinel, "stream".getBytes("UTF-8"))
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    Files.setLastModifiedTime(sentinel, aged)
    Snapshots.vacuum(dir, keepFrom = 0L)
    assert(Files.exists(sentinel),
      "aged sentinel guarding a FRESH attempt subtree must survive")
    // once the attempt's whole subtree aged out too, both go: first
    // the orphan-dir sweep takes the data, then the sentinel is inert
    Files.setLastModifiedTime(attempt.resolve("part-00000-live.parquet"), aged)
    Files.setLastModifiedTime(attempt, aged)
    Snapshots.vacuum(dir, keepFrom = 0L)
    assert(!Files.exists(attempt) && !Files.exists(sentinel),
      "fully-aged crashed attempt: data dir and sentinel both reclaimed")
  }

  test("footer-stats collection retries once on a transient failure instead of silently degrading (judge r16)") {
    val dir = fresh()
    SnapshotStats.testFailNextCollects.set(1) // first attempt dies
    try Snapshots.commit(df(1, 2, 3), dir)
    finally SnapshotStats.testFailNextCollects.set(0)
    // the retry must have recorded stats: a selective read prunes and
    // countFromManifest answers from metadata alone
    assert(Snapshots.countFromManifest(dir) === Some(3L),
      "stats must be present after the retried collection")
    // and a DOUBLE failure degrades loudly but still commits
    SnapshotStats.testFailNextCollects.set(2)
    try Snapshots.commit(df(4, 5), dir)
    finally SnapshotStats.testFailNextCollects.set(0)
    assert(Snapshots.currentVersion(dir) === 1L, "the commit itself must survive")
    assert(Snapshots.countFromManifest(dir).isEmpty,
      "a twice-failed collection leaves the version stats-less (unprunable, sound)")
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().toSet
      === Set(4L, 5L))
  }

  test("two concurrent appenders both land, no caller retry loops (judge r16 blind-append rebase)") {
    val dir = fresh()
    Snapshots.commit(df(0), dir) // v0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val gate = new java.util.concurrent.CountDownLatch(2)
    def appender(ids: Seq[Long]) = scala.concurrent.Future {
      gate.countDown(); gate.await() // maximize the version collision
      Snapshots.commitAppend(df(ids: _*), dir)
    }
    val (a, b) = (appender(Seq(1, 2)), appender(Seq(3, 4)))
    val versions = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(a, b)),
      scala.concurrent.duration.Duration(120, "s")).sorted
    pool.shutdown()
    assert(versions === Seq(1L, 2L),
      "both racing appends must auto-claim consecutive versions")
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(0L, 1L, 2L, 3L, 4L), "no rows lost or duplicated by the race")
  }

  test("an append publishes over a mid-flight metadata commit by renaming its data dir (r16)") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0: (id, payload)
    Snapshots.commitAppend(df(3), dir) // v1
    // a RESTORE (metadata-only rewrite — strictly harder than compact:
    // it even removes files) lands between the append's data write
    // and its publish; the blind append must rebase over it
    var fired = false
    Snapshots.testBeforePublish = Some { _ =>
      if (!fired) { fired = true; Snapshots.restore(dir, 0L) } // claims v2
    }
    try {
      val v = Snapshots.commitAppend(df(9), dir)
      assert(v === 3L, "the append must land on the next version after the racer")
    } finally Snapshots.testBeforePublish = None
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 9L), "restored base (v0) plus the rebased append")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data", "v000002")),
      "the append's data dir must have MOVED to its claimed version")
    assert(Files.exists(java.nio.file.Paths.get(dir, "data", "v000003")))
  }

  test("rebase refuses when a racer changed what the written files would have to contain") {
    val dir = fresh()
    Snapshots.commit(df(1), dir) // v0: (id, payload)
    // racer renames 'payload' mid-append; the append's df still spells
    // 'payload', whose physical name the merged mapping would now have
    // to synthesize — the files on disk spell the OLD physical, so the
    // rebase must refuse rather than publish an unreadable version
    var fired = false
    Snapshots.testBeforePublish = Some { _ =>
      if (!fired) { fired = true; Snapshots.renameColumn(dir, "payload", "body") }
    }
    val e = try intercept[IllegalArgumentException] {
      Snapshots.commitAppend(df(7), dir)
    } finally Snapshots.testBeforePublish = None
    assert(e.getMessage.contains("physical name"), e.getMessage)
    // the explicit-pin path still refuses on ANY race (strict OCC)
    val e2 = intercept[IllegalArgumentException] {
      Snapshots.commitAppend(df(8), dir, expectedVersion = Some(0L))
    }
    assert(e2.getMessage.contains("concurrent commit"), e2.getMessage)
  }

  test("type widening: int->long and float->double appends widen; old files promote at read (judge r16)") {
    import org.apache.spark.sql.functions.{col => c}
    val dir = fresh()
    val narrow = Seq((1, 1.5f), (2, 2.5f)).toDF("id", "score")
    Snapshots.commit(narrow, dir) // v0: (int, float)
    val wide = Seq((3000000000L, 3.5d)).toDF("id", "score")
    Snapshots.commitAppend(wide, dir) // v1: widens both columns
    val out = Snapshots.read(spark, dir)
    assert(out.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(out.schema("score").dataType === org.apache.spark.sql.types.DoubleType)
    assert(out.select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3000000000L),
      "old int32 files must promote to the widened long schema")
    // appending the NARROW type onto the widened table stays widened
    Snapshots.commitAppend(Seq((4, 4.5f)).toDF("id", "score"), dir) // v2
    assert(Snapshots.read(spark, dir).schema("id").dataType
      === org.apache.spark.sql.types.LongType)
    assert(Snapshots.read(spark, dir).count() === 4L)
    // readAligned presents the pre-widening version IN the wide schema
    val aligned = Snapshots.readAligned(spark, dir, 0L)
    assert(aligned.schema("id").dataType === org.apache.spark.sql.types.LongType)
    assert(aligned.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // stats pruning stays SOUND across the widening (mixed-width files)
    val pruned = Snapshots.read(spark, dir,
      predicate = Some(c("id") >= 3L))
    assert(pruned.select("id").as[Long].collect().sorted.toSeq
      === Seq(4L, 3000000000L).sorted)
    // a NON-widening retype still refuses loudly
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitAppend(Seq(("x", 1.0d)).toDF("id", "score"), dir)
    }
    assert(e.getMessage.contains("type conflict"), e.getMessage)
  }

  test("deletion vectors: a DV delete is manifest-only — data files byte-untouched, reads exact (judge r16)") {
    val dir = fresh()
    Snapshots.commit(df(1L to 20L: _*), dir) // v0
    val rel = Snapshots.manifestAt(dir, 0L).files
    def sig(): Seq[(String, Long, Long)] = rel.map { r =>
      val p = java.nio.file.Paths.get(dir).resolve(r)
      (r, java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
    }
    val before = sig()
    val v = Snapshots.deleteWhere(spark, dir, col("id") % 5 === 0,
      deletionVectors = true) // v1: merge-on-read
    assert(v === 1L)
    assert(sig() === before, "a DV delete must not touch a data file byte")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data", "v000001")),
      "a DV delete writes no data directory at all")
    // reads anti-apply: exact rows, exact metadata count
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === (1L to 20L).filterNot(_ % 5 == 0))
    assert(Snapshots.countFromManifest(dir) === Some(16L),
      "manifest count must subtract DV positions exactly")
    // time travel: v0 still serves every row
    assert(Snapshots.read(spark, dir, 0L).count() === 20L)
    // a SECOND DV delete on the same files unions positions
    Snapshots.deleteWhere(spark, dir, col("id") === 7L, deletionVectors = true)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === (1L to 20L).filterNot(i => i % 5 == 0 || i == 7L))
    // predicates still prune/filter correctly over DV'd files
    assert(Snapshots.read(spark, dir, predicate = Some(col("id") <= 10L))
      .select("id").as[Long].collect().sorted.toSeq
      === (1L to 10L).filterNot(i => i % 5 == 0 || i == 7L))
    // CDC across the DV version labels the vanished keys deleted
    val diff = Snapshots.diffVersions(spark, dir, 0L, 1L, "id", Seq("payload"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(diff.toSet === Set(5L, 10L, 15L, 20L).map(_ -> "deleted"))
    // compact materializes the DVs away: clean files, same rows
    graft.GraftSession.tune(spark)
    val cv = Snapshots.compact(spark, dir)
    assert(Snapshots.manifestAt(dir, cv).dvs.isEmpty,
      "compact must publish DV-free manifests")
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === (1L to 20L).filterNot(i => i % 5 == 0 || i == 7L))
  }

  test("deletion vectors: NULL-predicate rows kept; an over-cap delete falls back to the COW rewrite") {
    val dir = fresh()
    val data = df(1L to 10L: _*).unionByName(
      Seq.fill(2)(null.asInstanceOf[java.lang.Long]).toDF("id")
        .withColumn("payload", lit("null-row")))
    Snapshots.commit(data, dir)
    Snapshots.deleteWhere(spark, dir, col("id") > 8L, deletionVectors = true)
    assert(Snapshots.read(spark, dir).count() === 10L,
      "NULL-pred rows are kept by DELETE (SQL semantics), 9 and 10 go")
    // over the per-file cap: a bulk delete must fall back to rewrite
    val dir2 = fresh()
    Snapshots.commit((1L to 20000L).toDF("id").coalesce(1), dir2) // one big file
    val v = Snapshots.deleteWhere(spark, dir2, col("id") <= 10000L,
      deletionVectors = true)
    assert(v === 1L)
    assert(Snapshots.manifestAt(dir2, 1L).dvs.isEmpty,
      "an over-cap delete must COW-rewrite, never publish a megabyte DV")
    assert(Files.exists(java.nio.file.Paths.get(dir2, "data", "v000001")),
      "the fallback wrote rewritten files")
    assert(Snapshots.read(spark, dir2).count() === 10000L)
  }

  test("deletion vectors: partitioned tables DV-delete exactly, partition values intact") {
    val dir = fresh()
    import spark.implicits._
    val data = (1L to 12L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "par")
    Snapshots.commit(data, dir, partitionBy = Seq("par"))
    Snapshots.deleteWhere(spark, dir, col("id") % 3 === 0 && col("par") === "even",
      deletionVectors = true)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === (1L to 12L).filterNot(i => i % 3 == 0 && i % 2 == 0))
    // the even partition's files are byte-untouched (manifest-only)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data", "v000001")))
  }

  test("deletion vectors: a WIDE sparse delete plans O(1) scan nodes, not one per dirty file (judge r16 #6)") {
    val dir = fresh()
    // 200 small files, every one of which the delete will touch —
    // far past DvUnionScanLimit, the shape where per-file union scans
    // would explode the plan
    val nFiles = 200
    Snapshots.commit(
      (1L to 2000L).toDF("id").withColumn("payload", concat(lit("p"), col("id")))
        .repartition(nFiles), dir)
    assert(Snapshots.manifestAt(dir, 0L).files.size === nFiles)
    val v = Snapshots.deleteWhere(spark, dir, col("id") % 2 === 0,
      deletionVectors = true)
    assert(v === 1L)
    val man = Snapshots.manifestAt(dir, 1L)
    assert(man.dvs.count(_._2.nonEmpty) > Snapshots.DvUnionScanLimit,
      s"the delete must dirty more files than the union limit, got ${man.dvs.size}")
    val out = Snapshots.read(spark, dir)
    // exact rows through the joined path
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 1999L by 2))
    // O(1) scan nodes: every dirty file rides ONE scan + one anti-join,
    // not a 200-way union of single-file scans
    val scans = out.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size <= 3,
      s"wide sparse delete must plan O(1) scans, got ${scans.size}:\n" +
        out.queryExecution.executedPlan.toString.take(2000))
    // a SECOND layered DV delete exercises the joined path with
    // keepMeta = true (the writer's attribution input)
    Snapshots.deleteWhere(spark, dir, col("id") === 7L, deletionVectors = true)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === (1L to 1999L by 2).filterNot(_ == 7L))
  }

  test("schema evolution: a case-only column rename is the SAME column, not a duplicate") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // columns: id, payload
    // appended 'ID' matches existing 'id' case-insensitively — the
    // merged schema must carry ONE id column, and reads resolve
    Snapshots.commitAppend(
      Seq(7L).toDF("ID").withColumn("payload", lit("row-7")), dir)
    val out = Snapshots.read(spark, dir)
    assert(out.schema.fieldNames.count(_.equalsIgnoreCase("id")) === 1,
      out.schema.treeString)
    assert(out.select(col("id")).as[Long].collect().toSet === Set(1L, 2L, 7L))
    // a retype hiding behind a case-only rename still refuses loudly
    val bad = Seq("not-a-long").toDF("ID").withColumn("payload", lit("x"))
    intercept[IllegalArgumentException](Snapshots.commitAppend(bad, dir))
  }

  // ---- manifest v3: file stats + predicate-pruned reads (r14) ----

  /** A table whose data files carry DISJOINT id ranges, so stats
    * pruning has something to prune. */
  private def rangedTable(dir: String, n: Int, slices: Int): Unit = {
    val d = (1L to n.toLong).toDF("id")
      .withColumn("payload", concat(lit("row-"), col("id")))
      .repartitionByRange(slices, col("id"))
      .sortWithinPartitions(col("id"))
    Snapshots.commit(d, dir)
  }

  test("stats-pruned read opens only the files whose ranges intersect the predicate") {
    val dir = fresh()
    rangedTable(dir, n = 1000, slices = 5)
    val all = Snapshots.read(spark, dir)
    val total = all.inputFiles.length
    assert(total >= 4, s"fixture must spread over several files, got $total")
    // point lookup: exactly one range file can hold id 17
    val point = Snapshots.read(spark, dir, predicate = Some(col("id") === 17L))
    assert(point.inputFiles.length === 1,
      s"id=17 must prune to one file, opened ${point.inputFiles.length}/$total")
    assert(point.select("id").as[Long].collect().toSeq === Seq(17L))
    // range scan: a top slice prunes most files
    val top = Snapshots.read(spark, dir, predicate = Some(col("id") > 950L))
    assert(top.inputFiles.length < total, "range predicate must prune")
    assert(top.count() === 50L)
    // a predicate over an UNSTATED shape keeps everything (sound)
    val opaque = Snapshots.read(spark, dir,
      predicate = Some(col("id") % 2 === 0))
    assert(opaque.inputFiles.length === total, "unsupported shapes must not prune")
    assert(opaque.count() === 500L)
  }

  test("stats pruning is SOUND: every pruned read equals read-then-filter") {
    val dir = fresh()
    rangedTable(dir, n = 500, slices = 4)
    val full = Snapshots.read(spark, dir)
    val preds = Seq(
      col("id") === 1L, col("id") === 500L, col("id") === 9999L,
      col("id") < 100L, col("id") >= 499L, lit(250L) <= col("id"),
      col("id") > 100L && col("id") < 110L,
      col("id") < 5L || col("id") > 495L,
      col("id").isin(3L, 303L, 9999L),
      col("payload") === "row-42", col("payload").startsWith("row-49"),
      col("payload") < "row-2", col("id").isNull, col("id").isNotNull,
      col("id") =!= 250L, !(col("id") === 250L))
    preds.foreach { p =>
      val pruned = Snapshots.read(spark, dir, predicate = Some(p))
        .select("id").as[Long].collect().sorted.toSeq
      val naive = full.filter(p).select("id").as[Long].collect().sorted.toSeq
      assert(pruned === naive, s"predicate $p diverged")
    }
  }

  test("stats: long string values truncate SOUNDLY in the manifest (no megabyte min/max lines)") {
    val dir = fresh()
    // 4 files of 1000-char strings with disjoint leading letters
    val d = (1L to 400L).toDF("id")
      .withColumn("payload",
        concat(chr(lit(97) + floor((col("id") - 1) / 100)), lpad(col("id"), 999, "x")))
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    Snapshots.commit(d, dir)
    // the manifest must not inline kilobyte stats
    val m = java.nio.file.Paths.get(dir).resolve("_v000000.manifest")
    val statsLines = new String(Files.readAllBytes(m)).split("\n")
      .filter(_.startsWith("#stats"))
    assert(statsLines.nonEmpty)
    assert(statsLines.forall(_.length < 600),
      s"stats line blew up: ${statsLines.map(_.length).max} chars")
    // truncated bounds stay SOUND: prefix predicates still return
    // exactly read-then-filter
    val full = Snapshots.read(spark, dir)
    for (p <- Seq(col("payload").startsWith("b"), col("payload") < "c",
                  col("payload") >= "d", col("payload") === ("a" + "x" * 999))) {
      val pruned = Snapshots.read(spark, dir, predicate = Some(p))
        .select("id").as[Long].collect().sorted.toSeq
      assert(pruned === full.filter(p).select("id").as[Long].collect().sorted.toSeq,
        s"predicate $p diverged under truncated stats")
    }
    // ...and the disjoint leading letters still prune (range-sampled
    // boundaries may straddle a letter across two files — the claim is
    // that truncation kept the stats USABLE, not the exact count)
    val one = Snapshots.read(spark, dir, predicate = Some(col("payload").startsWith("c")))
    assert(one.inputFiles.length < full.inputFiles.length,
      s"truncated stats must still prune: ${one.inputFiles.length}/${full.inputFiles.length}")
  }

  test("stats: an all-null file prunes IS NOT NULL and comparison reads; IS NULL keeps it") {
    val dir = fresh()
    val withNulls = Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"))
      .toDF("id", "payload").coalesce(1)
    Snapshots.commit(df(1, 2, 3).coalesce(1), dir) // v0
    Snapshots.commitAppend(withNulls, dir) // v1: one all-null-id file
    val total = Snapshots.read(spark, dir).inputFiles.length
    val notNull = Snapshots.read(spark, dir, predicate = Some(col("id").isNotNull))
    assert(notNull.inputFiles.length === total - 1, "all-null file must prune")
    assert(notNull.count() === 3L)
    val isNull = Snapshots.read(spark, dir, predicate = Some(col("id").isNull))
    assert(isNull.count() === 2L)
    val cmp = Snapshots.read(spark, dir, predicate = Some(col("id") > 0L))
    assert(cmp.inputFiles.length === total - 1,
      "comparisons never match NULL — the all-null file must prune")
    assert(cmp.count() === 3L)
  }

  test("column rename is metadata-only: old files' data flows into the new name (judge r13 #5)") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0: (id, payload)
    val filesBefore = manifestFiles(dir, 0L)
    val v1 = Snapshots.renameColumn(dir, "payload", "body")
    assert(v1 === 1L)
    assert(manifestFiles(dir, 1L) === filesBefore, "rename must not touch data files")
    val renamed = Snapshots.read(spark, dir)
    assert(renamed.columns.toSeq === Seq("id", "body"))
    assert(renamed.select("body").as[String].collect().toSet
      === Set("row-1", "row-2"), "pre-rename file data must survive under the new name")
    // appends after the rename use the new logical name; both
    // generations read uniformly
    Snapshots.commitAppend(
      Seq(3L).toDF("id").withColumn("body", lit("row-3")), dir)
    assert(Snapshots.read(spark, dir).select("body").as[String].collect().toSet
      === Set("row-1", "row-2", "row-3"))
    // time travel: v0 still reads under ITS name
    assert(Snapshots.read(spark, dir, 0).columns.toSeq === Seq("id", "payload"))
    // aligned: v0 presented in the latest schema carries its data
    // under the NEW name (id-paired, not name-paired)
    val aligned = Snapshots.readAligned(spark, dir, 0)
    assert(aligned.columns.toSeq === Seq("id", "body"))
    assert(aligned.select("body").as[String].collect().toSet === Set("row-1", "row-2"))
    // a retype hiding BEHIND the rename still refuses
    val bad = Seq(4L).toDF("id").withColumn("body", lit(99))
    val e = intercept[IllegalArgumentException](Snapshots.commitAppend(bad, dir))
    assert(e.getMessage.contains("type conflict"))
  }

  test("rename guards: unknown/duplicate names refuse; a shadowed name gets a SYNTHETIC physical") {
    val dir = fresh()
    Snapshots.commit(df(1), dir)
    intercept[IllegalArgumentException](Snapshots.renameColumn(dir, "nope", "x"))
    intercept[IllegalArgumentException](Snapshots.renameColumn(dir, "payload", "ID"))
    Snapshots.renameColumn(dir, "payload", "body")
    // a NEW column named like the renamed column's files still spell
    // it must not fuse with them — it receives a synthetic physical
    // name (the Delta column-mapping move), so the append WORKS and
    // the two columns stay distinct
    val shadow = Seq(2L).toDF("id")
      .withColumn("body", lit("row-2")).withColumn("payload", lit("impostor"))
    Snapshots.commitAppend(shadow, dir)
    val out = Snapshots.read(spark, dir)
      .select("id", "body", "payload").as[(Long, String, Option[String])]
      .collect().map { case (k, v, p) => k -> ((v, p)) }.toMap
    assert(out(1L) === (("row-1", None)),
      "the OLD file must read its data as body and NULL for the new column")
    assert(out(2L) === (("row-2", Some("impostor"))))
    // dropping a column and RE-ADDING its name also works (synthetic
    // physical — never refused, never captures the retired data)
    Snapshots.commit(Seq(7L).toDF("id"), dir) // drops body+payload
    Snapshots.commitAppend(
      Seq(8L).toDF("id").withColumn("body", lit("new-gen")), dir)
    val gen2 = Snapshots.read(spark, dir)
      .select("id", "body").as[(Long, Option[String])].collect().toMap
    assert(gen2 === Map(7L -> None, 8L -> Some("new-gen")))
  }

  test("vacuum folds a doomed txn manifest into the sidecar (crash-window exactly-once, review r14)") {
    val dir = fresh()
    assert(Snapshots.streamAppendBatch(df(1, 2), 5L, dir) === Some(0L))
    // simulate the crash between publish and sidecar write: remove the
    // sidecar the commit just wrote — only manifest v0 records batch 5
    val side = Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("_txn_")).get
    Files.delete(side)
    Files.deleteIfExists(side.getParent.resolve("." + side.getFileName + ".crc"))
    // batch commits advance the table; vacuum drops the txn manifest
    Snapshots.commit(Snapshots.read(spark, dir), dir) // v1
    Snapshots.commit(Snapshots.read(spark, dir), dir) // v2
    Snapshots.vacuum(dir, keepFrom = 1L)
    assert(Snapshots.earliestVersion(dir) === 1L)
    // the fold must have re-created the sidecar from the doomed manifest
    assert(Snapshots.lastStreamBatch(dir, "stream") === Some(5L),
      "vacuum must fold a doomed manifest's txn into the sidecar")
    assert(Snapshots.streamAppendBatch(df(1, 2), 5L, dir) === None,
      "the crash-window replay must stay a no-op after vacuum")
    assert(Snapshots.read(spark, dir).count() === 2L)
  }

  test("rename + stats: a predicate on the NEW name prunes files written under the old one") {
    val dir = fresh()
    rangedTable(dir, n = 1000, slices = 5)
    Snapshots.renameColumn(dir, "id", "doc_id")
    val total = Snapshots.read(spark, dir).inputFiles.length
    val point = Snapshots.read(spark, dir, predicate = Some(col("doc_id") === 17L))
    assert(point.inputFiles.length === 1,
      s"stats recorded under the physical name must serve the logical one (${point.inputFiles.length}/$total)")
    assert(point.select("doc_id").as[Long].collect().toSeq === Seq(17L))
    // readAligned: the PRE-rename version pruned through the same mapping
    val aligned = Snapshots.readAligned(spark, dir, 0,
      predicate = Some(col("doc_id") === 17L))
    assert(aligned.select("doc_id").as[Long].collect().toSeq === Seq(17L))
  }

  test("readAligned by COLUMN ID: a later column reusing a dropped name never captures old data") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0: (id, payload)
    // v1 drops payload entirely (full rewrite without it)...
    Snapshots.commit(Seq(3L).toDF("id"), dir)
    // ...and v2 introduces a NEW column that happens to be called payload
    Snapshots.commit(Seq(4L).toDF("id").withColumn("payload", lit("new-gen")), dir)
    // v0 aligned to the latest schema: its payload was a DIFFERENT
    // column (different id) — the old values must NOT leak through
    val aligned = Snapshots.readAligned(spark, dir, 0)
    assert(aligned.columns.toSeq === Seq("id", "payload"))
    assert(aligned.filter(col("payload").isNotNull).count() === 0L,
      "a name-sake column must not inherit the retired column's data")
  }

  test("compact rewrites a fragmented version into few files as a NEW version (judge r13 #3)") {
    val dir = fresh()
    // three fragmented appends: 12+ small files
    Snapshots.commit(df(1L to 40L: _*).repartition(4), dir)
    Snapshots.commitAppend(df(41L to 80L: _*).repartition(4), dir)
    Snapshots.commitAppend(df(81L to 120L: _*).repartition(4), dir)
    val v2Files = manifestFiles(dir, 2L)
    assert(v2Files.size >= 12)
    def stamped(files: Seq[String]): Map[String, Long] =
      files.map { rel =>
        val p = java.nio.file.Paths.get(dir).resolve(rel)
        rel -> Files.getLastModifiedTime(p).toMillis
      }.toMap
    val before = stamped(v2Files)
    val rows = Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
    val v3 = Snapshots.compact(spark, dir, clusterBy = Seq("id"))
    assert(v3 === 3L)
    val v3Files = manifestFiles(dir, 3L)
    assert(v3Files.size < v2Files.size, s"${v3Files.size} !< ${v2Files.size}")
    assert(v3Files.toSet.intersect(v2Files.toSet).isEmpty,
      "compaction writes fresh files, never reuses fragments")
    // row multiset preserved
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === rows)
    // every pre-compaction version byte-identical (time travel intact)
    assert(stamped(v2Files) === before, "old files must be physically untouched")
    assert(Snapshots.read(spark, dir, 2).select("id").as[Long].collect().sorted.toSeq
      === rows)
    // clusterBy tightened the stats: a point read opens ONE file
    val point = Snapshots.read(spark, dir, predicate = Some(col("id") === 100L))
    assert(point.inputFiles.length === 1,
      s"clustered compaction must enable pruning, opened ${point.inputFiles.length}")
    // stale expected version refuses
    val e = intercept[IllegalArgumentException](
      Snapshots.compact(spark, dir, expectedVersion = Some(1L)))
    assert(e.getMessage.contains("concurrent commit"))
  }

  test("deleteWhere is copy-on-write: only stats-matching files rewrite, the rest carry by reference") {
    val dir = fresh()
    rangedTable(dir, n = 1000, slices = 5)
    val before = manifestFiles(dir, 0L)
    def stamped(files: Seq[String]): Map[String, Long] =
      files.map { rel =>
        rel -> Files.getLastModifiedTime(
          java.nio.file.Paths.get(dir).resolve(rel)).toMillis
      }.toMap
    val stamps = stamped(before)
    // delete a narrow id range: exactly one range file may hold it
    val v1 = Snapshots.deleteWhere(spark, dir, col("id") >= 10L && col("id") < 20L)
    assert(v1 === 1L)
    val after = manifestFiles(dir, 1L)
    val carried = after.toSet.intersect(before.toSet)
    assert(carried.size === before.size - 1,
      s"exactly one file may hold ids 10..19; carried ${carried.size}/${before.size}")
    assert(stamped(carried.toSeq) === stamps.filter(kv => carried(kv._1)),
      "carried files must be byte-untouched")
    val ids = Snapshots.read(spark, dir).select("id").as[Long].collect().sorted
    assert(ids.toSeq === ((1L to 9L) ++ (20L to 1000L)))
    // v0 time travel intact
    assert(Snapshots.read(spark, dir, 0L).count() === 1000L)
    // rewritten files carry fresh stats: manifest count stays exact
    assert(Snapshots.countFromManifest(dir) === Some(990L))
    // a provably-no-op delete commits NOTHING
    assert(Snapshots.deleteWhere(spark, dir, col("id") > 5000L) === 1L)
    assert(Snapshots.currentVersion(dir) === 1L)
  }

  test("deleteWhere keeps NULL-predicate rows (SQL DELETE semantics)") {
    val dir = fresh()
    val withNulls = Seq[(java.lang.Long, String)](
      (1L, "a"), (null, "keep-me"), (2L, "b")).toDF("id", "payload").coalesce(1)
    Snapshots.commit(withNulls, dir)
    Snapshots.deleteWhere(spark, dir, col("id") === 1L)
    val left = Snapshots.read(spark, dir).select("payload").as[String].collect().toSet
    assert(left === Set("keep-me", "b"),
      "id=1 deleted; the NULL-id row (pred NULL) must survive")
  }

  test("updateWhere rewrites matching rows in place; wrong-typed assignments refuse") {
    val dir = fresh()
    rangedTable(dir, n = 400, slices = 4)
    val before = manifestFiles(dir, 0L)
    val v1 = Snapshots.updateWhere(spark, dir,
      col("id") >= 100L && col("id") < 110L,
      Map("payload" -> concat(lit("updated-"), col("id"))))
    assert(v1 === 1L)
    // ids 100..109 sit near a sampled range-partition boundary, so
    // they may straddle TWO files — the claim is copy-on-write
    // narrowness, not an exact count
    val carried = manifestFiles(dir, 1L).toSet.intersect(before.toSet)
    assert(carried.size >= before.size - 2 && carried.size < before.size,
      s"COW update must touch at most two files: carried ${carried.size}/${before.size}")
    val rows = Snapshots.read(spark, dir)
      .select("id", "payload").as[(Long, String)].collect().toMap
    assert((100L to 109L).forall(i => rows(i) == s"updated-$i"))
    assert(rows(99L) === "row-99" && rows(110L) === "row-110")
    assert(rows.size === 400)
    // assignments must not retype
    val e = intercept[IllegalArgumentException](Snapshots.updateWhere(
      spark, dir, col("id") === 1L, Map("id" -> lit(1.5))))
    assert(e.getMessage.contains("schema"), e.getMessage)
    // unknown column refused
    intercept[IllegalArgumentException](Snapshots.updateWhere(
      spark, dir, col("id") === 1L, Map("nope" -> lit(1))))
  }

  test("rename SWAP (x->tmp, y->x, tmp->y) keeps every write path working (review r14)") {
    val dir = fresh()
    Snapshots.commit(Seq((1L, "payload-one")).toDF("id", "payload"), dir)
    Snapshots.renameColumn(dir, "id", "tmp")
    Snapshots.renameColumn(dir, "payload", "id")
    Snapshots.renameColumn(dir, "tmp", "payload")
    // logical payload is now the ORIGINAL id column (physical 'id'),
    // logical id the original payload — reads resolve through physicals
    val swapped = Snapshots.read(spark, dir)
    assert(swapped.columns.toSeq === Seq("payload", "id"))
    assert(swapped.select("payload").as[Long].head() === 1L)
    assert(swapped.select("id").as[String].head() === "payload-one")
    // the wedge case: a write AFTER the swap (sequential renames would
    // rename a just-renamed column twice and die on duplicates)
    Snapshots.commitAppend(Seq((2L, "payload-two")).toDF("payload", "id"), dir)
    val after = Snapshots.read(spark, dir)
      .select("payload", "id").as[(Long, String)].collect().toSet
    assert(after === Set((1L, "payload-one"), (2L, "payload-two")))
    // COW update through the swapped mapping too
    Snapshots.updateWhere(spark, dir, col("payload") === 2L,
      Map("id" -> lit("rewritten")))
    assert(Snapshots.read(spark, dir).filter(col("payload") === 2L)
      .select("id").as[String].head() === "rewritten")
  }

  test("streamAppend ledger survives vacuum: replay after retention still skips (review r14)") {
    val dir = fresh()
    assert(Snapshots.streamAppendBatch(df(1, 2), 0L, dir) === Some(0L))
    assert(Snapshots.streamAppendBatch(df(3), 1L, dir) === Some(1L))
    // batch commits push the txn-carrying manifests below retention
    Snapshots.commit(Snapshots.read(spark, dir), dir) // v2 full rewrite
    Snapshots.commit(Snapshots.read(spark, dir), dir) // v3
    Snapshots.vacuum(dir, keepFrom = 2L)
    assert(Snapshots.earliestVersion(dir) === 2L)
    // no surviving manifest carries the txn — the sidecar must answer
    assert(Snapshots.lastStreamBatch(dir, "stream") === Some(1L))
    assert(Snapshots.streamAppendBatch(df(3), 1L, dir) === None,
      "a replayed batch must stay a no-op after vacuum")
    assert(Snapshots.read(spark, dir).count() === 3L)
  }

  test("readAligned finds a renamed column's data in pre-mapping (v2-era) versions (review r14)") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0 (v3 manifest)
    // surgically strip the v3 mapping headers: v0 becomes a v2-era
    // manifest (schema recorded, no cols=/maxcol=) — the upgrade shape
    val m = java.nio.file.Paths.get(dir).resolve("_v000000.manifest")
    val stripped = new String(Files.readAllBytes(m)).split("\n").map { l =>
      if (l.startsWith("#graft-manifest"))
        l.split("\\s+").filterNot(p =>
          p.startsWith("cols=") || p.startsWith("maxcol=")).mkString(" ")
      else l
    }.mkString("\n")
    Files.write(m, stripped.getBytes)
    Files.deleteIfExists(java.nio.file.Paths.get(dir).resolve("._v000000.manifest.crc"))
    // upgrade commit + rename AFTER the v2-era version was written
    Snapshots.commitAppend(df(3), dir) // v1: v3 manifest
    Snapshots.renameColumn(dir, "payload", "body") // v2
    val aligned = Snapshots.readAligned(spark, dir, 0)
    assert(aligned.columns.toSeq === Seq("id", "body"))
    assert(aligned.select("body").as[String].collect().toSet
      === Set("row-1", "row-2"),
      "the v2-era files hold the data under the OLD name — it must flow, not read NULL")
  }

  test("countFromManifest answers from metadata alone; statsReport surfaces the skipping layer") {
    val dir = fresh()
    rangedTable(dir, n = 777, slices = 3)
    assert(Snapshots.countFromManifest(dir) === Some(777L))
    // appends accumulate: prev stats carry forward, new files add
    Snapshots.commitAppend(df(9001L, 9002L), dir)
    assert(Snapshots.countFromManifest(dir) === Some(779L))
    assert(Snapshots.countFromManifest(dir, 0L) === Some(777L),
      "time-travel counts answer from the old manifest")
    // the report lists every file with a per-column row and the
    // file-level rows row; id min/max are the disjoint ranges
    val rep = Snapshots.statsReport(spark, dir, 0L)
    assert(rep.columns.toSeq === Seq("file", "rows", "column", "nulls", "min", "max"))
    val idRows = rep.filter(col("column") === "id").collect()
    assert(idRows.length === Snapshots.read(spark, dir, 0L).inputFiles.length)
    assert(idRows.forall(r => r.getString(4).toLong <= r.getString(5).toLong))
    assert(rep.filter(col("column").isNull).count() === idRows.length.toLong,
      "one file-level rows row per file")
    // a legacy manifest (no stats) answers None, never a wrong number
    val legacyDir = fresh()
    Snapshots.commit(df(1, 2), legacyDir)
    val m = java.nio.file.Paths.get(legacyDir).resolve("_v000000.manifest")
    val noStats = new String(Files.readAllBytes(m)).split("\n")
      .filterNot(_.startsWith("#stats"))
    Files.write(m, noStats.mkString("\n").getBytes)
    Files.deleteIfExists(
      java.nio.file.Paths.get(legacyDir).resolve("._v000000.manifest.crc"))
    assert(Snapshots.countFromManifest(legacyDir) === None)
  }

  test("streamAppend: exactly-once streaming ingest — replayed batches are manifest-ledger no-ops") {
    val dir = fresh()
    // live stream path: three micro-batches through foreachBatch
    implicit val sqlCtx = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = ms.toDF().withColumnRenamed("value", "id")
      .writeStream.foreachBatch(Snapshots.streamAppend(dir)).start()
    try {
      ms.addData(1L, 2L); q.processAllAvailable()
      ms.addData(3L); q.processAllAvailable()
      ms.addData(4L, 5L); q.processAllAvailable()
    } finally q.stop()
    val after = Snapshots.read(spark, dir).select("id").as[Long].collect().sorted
    assert(after.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val cur = Snapshots.currentVersion(dir)
    assert(Snapshots.lastStreamBatch(dir, "stream") === Some(2L))
    // the at-least-once crash window: foreachBatch REPLAYS the last
    // batch after a restart — the ledger must recognize and skip it
    assert(Snapshots.streamAppendBatch(
      Seq(4L, 5L).toDF("id"), batchId = 2L, dir) === None)
    assert(Snapshots.currentVersion(dir) === cur, "replay must not commit")
    assert(Snapshots.read(spark, dir).count() === 5L, "no duplicate rows")
    // ...while the NEXT batch commits normally
    assert(Snapshots.streamAppendBatch(
      Seq(6L).toDF("id"), batchId = 3L, dir) === Some(cur + 1))
    assert(Snapshots.read(spark, dir).count() === 6L)
    // interleaved BATCH commits don't confuse the per-appId ledger
    Snapshots.commitAppend(Seq(100L).toDF("id"), dir)
    assert(Snapshots.lastStreamBatch(dir, "stream") === Some(3L),
      "the walk must find the stream's txn behind a non-stream commit")
    assert(Snapshots.streamAppendBatch(
      Seq(6L).toDF("id"), batchId = 3L, dir) === None, "still a no-op")
  }

  test("streamAppend: a crash between data write and publish does not wedge the stream") {
    val dir = fresh()
    assert(Snapshots.streamAppendBatch(df(1, 2), 0L, dir) === Some(0L))
    // simulate the stream's own crashed attempt: the NEXT version's
    // data directory exists with the stream's OWNERSHIP SENTINEL
    // (written right after the data write), no manifest — a batch
    // commit would fail fast on errorifexists
    val orphan = java.nio.file.Paths.get(dir, "data", "v000001")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-crashed.parquet"), Array[Byte](1, 2, 3))
    Files.write(java.nio.file.Paths.get(dir, "data", "v000001.stream"),
      "stream".getBytes)
    intercept[Exception](Snapshots.commitAppend(df(9), dir)) // batch path wedges (documented)
    // the sentinel PROVES the dir is the stream's own crashed attempt:
    // swept immediately and the attempt retried
    assert(Snapshots.streamAppendBatch(df(3, 4), 1L, dir) === Some(1L))
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
    // the published version's sentinel was cleaned up
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data", "v000001.stream")))
  }

  test("streamAppend never sweeps a concurrent BATCH commit's in-flight data dir (advisor r14)") {
    val dir = fresh()
    assert(Snapshots.streamAppendBatch(df(1, 2), 0L, dir) === Some(0L))
    // simulate a batch commit sitting between writeData and publish:
    // data/v000001 exists, NO manifest, NO stream sentinel, fresh mtime
    val inflight = java.nio.file.Paths.get(dir, "data", "v000001")
    Files.createDirectories(inflight)
    Files.write(inflight.resolve("part-batch.parquet"), Array[Byte](7, 7))
    val e = intercept[IllegalStateException](
      Snapshots.streamAppendBatch(df(3), 1L, dir))
    assert(e.getMessage.contains("concurrent batch commit"), e.getMessage)
    assert(Files.exists(inflight.resolve("part-batch.parquet")),
      "the batch commit's in-flight data must NOT be deleted")
    // the stream NEVER age-sweeps a no-sentinel dir itself (a giant
    // live batch commit can be hours between write and publish —
    // review r15); reclamation is vacuum's explicit, subtree-gated job
    val aged = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000L)
    Files.setLastModifiedTime(inflight.resolve("part-batch.parquet"), aged)
    Files.setLastModifiedTime(inflight, aged)
    intercept[IllegalStateException](Snapshots.streamAppendBatch(df(3), 1L, dir))
    Snapshots.vacuum(dir, keepFrom = 0L) // operator action reclaims the orphan
    assert(Snapshots.streamAppendBatch(df(3), 1L, dir) === Some(1L))
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
  }

  test("vacuum tolerates a TORN doomed manifest: drops it, guesses no files, proceeds (advisor r14)") {
    val dir = fresh()
    Snapshots.commit(df(1), dir) // v0
    Snapshots.commit(df(2), dir) // v1
    Snapshots.commit(df(3), dir) // v2
    // tear v0's manifest (truncate below its #end trailer)
    val m0 = java.nio.file.Paths.get(dir, "_v000000.manifest")
    val torn = new String(Files.readAllBytes(m0)).split("\n").dropRight(1).mkString("\n")
    Files.write(m0, torn.getBytes)
    // drop the local checksum sidecar so the tear surfaces as the
    // trailer check, not a ChecksumException (both paths are handled)
    Files.deleteIfExists(java.nio.file.Paths.get(dir, "._v000000.manifest.crc"))
    intercept[IllegalArgumentException](Snapshots.read(spark, dir, 0)) // torn = unreadable
    // vacuum below keepFrom=2 must not be blocked by the torn v0:
    // v0's manifest goes (its files leak — never guessed), v1's files
    // are reclaimed normally, survivors stay intact
    Snapshots.vacuum(dir, keepFrom = 2L)
    assert(!Files.exists(m0), "torn doomed manifest itself must be dropped")
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_v000001.manifest")))
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().toSeq === Seq(3L))
  }

  test("case-duplicate column names refuse at commit time, never publish an ambiguous table") {
    val dir = fresh()
    val e = intercept[IllegalArgumentException](
      Snapshots.commit(Seq((1L, 2L)).toDF("a", "A"), dir))
    assert(e.getMessage.contains("duplicate column name"), e.getMessage)
    assert(Snapshots.currentVersion(dir) === -1L, "nothing may publish")
  }

  test("same-commit drop + name-re-add cannot steal the dropped column's physical (review r14)") {
    val dir = fresh()
    Snapshots.commit(df(1), dir) // (id, payload)
    Snapshots.renameColumn(dir, "payload", "body") // body's physical = 'payload'
    // ONE commit that drops body and re-adds a column named 'payload':
    // the new column must get a synthetic physical, never 'payload'
    Snapshots.commit(
      Seq(2L).toDF("id").withColumn("payload", lit(777L)), dir)
    // v0/v1 aligned to the latest schema: old body data must NOT fuse
    // into the unrelated new 'payload' column
    val aligned = Snapshots.readAligned(spark, dir, 0)
    assert(aligned.columns.toSeq === Seq("id", "payload"))
    assert(aligned.filter(col("payload").isNotNull).count() === 0L,
      "the dropped body lineage must not leak into the new payload column")
    assert(Snapshots.read(spark, dir).select("payload").as[Long].head() === 777L)
  }

  test("history: one metadata-only row per retained version, newest first") {
    val dir = fresh()
    Snapshots.commit(df(1, 2).coalesce(1), dir) // v0
    Snapshots.commitAppend(df(3).coalesce(1), dir) // v1
    Snapshots.streamAppendBatch(df(4).coalesce(1), 0L, dir, appId = "ing") // v2
    val h = Snapshots.history(spark, dir).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(2L, 1L, 0L), "newest first")
    val byV = h.map(r => r.getLong(0) -> r).toMap
    assert(byV(0L).getInt(1) === 1 && byV(1L).getInt(1) === 2 && byV(2L).getInt(1) === 3,
      "append lineages accumulate files")
    assert(byV(2L).getLong(2) === 4L, "row counts from stats")
    assert(byV(2L).getString(5) === "ing" && byV(2L).getLong(6) === 0L,
      "stream commits carry their txn record")
    assert(byV(0L).isNullAt(5), "batch commits have no txn")
    // committed_at (r17): the TIMESTAMP-AS-OF instant, monotone along
    // this sequential lineage, never NULL
    val ts = Seq(0L, 1L, 2L).map(v => byV(v).getTimestamp(8).getTime)
    assert(ts.forall(_ > 0L) && ts == ts.sorted,
      s"committed_at must be present and monotone for sequential commits: $ts")
    assert(h.forall(_.getLong(3) > 0L), "referenced bytes")
    // vacuum shrinks the history to the retained versions
    Snapshots.vacuum(dir, keepFrom = 1L)
    assert(Snapshots.history(spark, dir).collect().map(_.getLong(0)).toSeq
      === Seq(2L, 1L))
  }

  test("per-file sizes live in the manifest: history answers exact bytes with ZERO file stats (r15)") {
    val dir = fresh()
    Snapshots.commit(df(1, 2).coalesce(1), dir) // v0
    Snapshots.commitAppend(df(3).coalesce(1), dir) // v1
    Snapshots.renameColumn(dir, "payload", "body") // v2: metadata-only, sizes carry
    // FS-derived truth while the files still exist
    val before = Snapshots.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(before.values.forall(_ > 0L))
    // delete every data file out from under the manifests: a metadata
    // consumer that still answers the same exact bytes provably never
    // touched the filesystem (the counting-FS assertion, behaviorally)
    import scala.jdk.CollectionConverters._
    Files.walk(java.nio.file.Paths.get(dir, "data")).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".parquet") || p.toString.endsWith(".crc"))
      .foreach(Files.delete)
    val after = Snapshots.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(after === before,
      "history byte totals must come from the manifest alone, never per-file stats")
  }

  // ---- partitioned snapshot tables (r15) ---------------------------

  private def partDf(rows: (Long, String, Long)*) =
    rows.toDF("id", "src", "n")

  test("partitioned commit: hive layout, typed reconstitution, appends inherit, NULLs round-trip") {
    val dir = fresh()
    Snapshots.commit(
      partDf((1L, "web", 10L), (2L, "api", 20L), (3L, null, 30L)),
      dir, partitionBy = Seq("src")) // v0
    // hive-style value dirs under the version dir
    assert(Files.exists(java.nio.file.Paths.get(dir, "data", "v000000", "src=web")))
    assert(Files.exists(java.nio.file.Paths.get(dir, "data", "v000000",
      "src=__HIVE_DEFAULT_PARTITION__")))
    // reads reconstitute the partition column with its declared type
    val r0 = Snapshots.read(spark, dir)
    assert(r0.schema("src").dataType === org.apache.spark.sql.types.StringType)
    assert(r0.select("id", "src", "n").as[(Long, String, Long)].collect().toSet
      === Set((1L, "web", 10L), (2L, "api", 20L), (3L, null, 30L)))
    // appends inherit the layout without restating it
    Snapshots.commitAppend(partDf((4L, "web", 40L)), dir) // v1
    assert(Files.exists(java.nio.file.Paths.get(dir, "data", "v000001", "src=web")),
      "appends inherit the hive partition layout")
    assert(Snapshots.read(spark, dir).count() === 4L)
    // time travel unaffected
    assert(Snapshots.read(spark, dir, 0L).count() === 3L)
  }

  test("partition pruning is EXACT: a partition-column predicate opens only its partition's files") {
    val dir = fresh()
    Snapshots.commit(
      partDf((1L, "web", 1L), (2L, "api", 2L), (3L, "web", 3L), (4L, null, 4L)),
      dir, partitionBy = Seq("src"))
    val pruned = Snapshots.read(spark, dir, predicate = Some(col("src") === "web"))
    assert(pruned.inputFiles.forall(_.contains("src=web")),
      s"only web files may open, got: ${pruned.inputFiles.mkString(", ")}")
    assert(pruned.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
    // IS NULL keeps exactly the hive-null partition
    val nulls = Snapshots.read(spark, dir, predicate = Some(col("src").isNull))
    assert(nulls.inputFiles.forall(_.contains("__HIVE_DEFAULT_PARTITION__")))
    assert(nulls.select("id").as[Long].collect().toSeq === Seq(4L))
    // IS NOT NULL must NOT prune value partitions (the footer-stats
    // all-null trap: partition cols are path-only, never in footers)
    assert(Snapshots.read(spark, dir, predicate = Some(col("src").isNotNull))
      .select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("whole-partition COW delete is a manifest edit: no file opened, no data written") {
    val dir = fresh()
    Snapshots.commit(
      partDf((1L, "web", 1L), (2L, "spam", 2L), (3L, "api", 3L), (4L, null, 4L)),
      dir, partitionBy = Seq("src"))
    val before = Snapshots.manifestAt(dir, 0L)
    val v = Snapshots.deleteWhere(spark, dir, col("src") === "spam")
    assert(v === 1L)
    // manifest-only: the new version wrote NO data directory at all
    assert(!Files.exists(java.nio.file.Paths.get(dir, "data", "v000001")),
      "a whole-partition delete must not write data files")
    val after = Snapshots.manifestAt(dir, 1L)
    assert(after.files.toSet.subsetOf(before.files.toSet),
      "survivors carry BY REFERENCE")
    assert(before.files.toSet.diff(after.files.toSet)
      .forall(_.contains("src=spam")), "exactly the spam partition dropped")
    // NULL partition rows survive (pred NULL => kept, SQL DELETE)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L, 4L))
    // a predicate touching non-partition columns falls back to the
    // rewrite path and still answers correctly
    Snapshots.deleteWhere(spark, dir, col("src") === "web" && col("n") > 0L)
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(3L, 4L))
  }

  test("renaming a partition column is metadata-only; reads and pruning follow the new name") {
    val dir = fresh()
    Snapshots.commit(partDf((1L, "web", 1L), (2L, "api", 2L)),
      dir, partitionBy = Seq("src"))
    Snapshots.renameColumn(dir, "src", "origin") // paths still spell src=
    val r = Snapshots.read(spark, dir, predicate = Some(col("origin") === "api"))
    assert(r.columns.toSeq === Seq("id", "origin", "n"))
    assert(r.inputFiles.forall(_.contains("src=api")), "pruning through the rename")
    assert(r.select("id").as[Long].collect().toSeq === Seq(2L))
    // and the streaming source delivers reconstituted values under the new name
    val cp = fresh()
    import org.apache.spark.sql.streaming.Trigger
    val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = spark.readStream.format("graft-snapshots").load(dir)
      .writeStream.option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= b.select("id", "origin").collect()
            .map(x => (x.getLong(0), x.getString(1)))
        }
        ()
      }.start()
    q.awaitTermination()
    assert(got.sorted.toSeq === Seq((1L, "web"), (2L, "api")).sorted,
      "the streaming source reconstitutes partition values")
  }

  // ---- MERGE INTO (r15) --------------------------------------------

  test("merge: matched rows replace or tombstone-delete, unmatched insert, non-intersecting files carry byte-identically") {
    val dir = fresh()
    // 4 range-disjoint files: keys 0-24, 25-49, 50-74, 75-99
    val base = (0L until 100L).toDF("id")
      .withColumn("payload", concat(lit("old-"), col("id")))
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    Snapshots.commit(base, dir) // v0
    val before = Snapshots.manifestAt(dir, 0L)
    // source touches only keys in [60, 70] plus inserts at 200+, so
    // the low-range files can never intersect the source key range
    val source = Seq(
      (60L, "upd-60"), (61L, "upd-61"), // matched updates
      (70L, "DEAD"), // matched tombstone
      (200L, "new-200"), (201L, "DEAD") // unmatched insert + no-op tombstone
    ).toDF("id", "payload")
    val v = Snapshots.merge(spark, dir, source, "id",
      deleteWhenMatched = Some(col("payload") === "DEAD"))
    assert(v === 1L)
    val after = Snapshots.manifestAt(dir, 1L)
    val carried = before.files.toSet.intersect(after.files.toSet)
    assert(carried.nonEmpty, "non-intersecting files must carry by reference")
    val r = Snapshots.read(spark, dir)
    assert(r.filter(col("id") === 60L).select("payload").as[String].head() === "upd-60")
    assert(r.filter(col("id") === 61L).select("payload").as[String].head() === "upd-61")
    assert(r.filter(col("id") === 70L).count() === 0L, "matched tombstone deletes")
    assert(r.filter(col("id") === 200L).select("payload").as[String].head() === "new-200")
    assert(r.filter(col("id") === 201L).count() === 0L, "unmatched tombstone is a no-op")
    assert(r.filter(col("id") === 5L).select("payload").as[String].head() === "old-5")
    assert(r.count() === 100L, "100 - 1 deleted + 1 inserted")
    // time travel intact
    assert(Snapshots.read(spark, dir, 0L).count() === 100L)
  }

  test("merge prunes by the source key range: a tight batch rewrites only intersecting files") {
    val dir = fresh()
    val base = (0L until 100L).toDF("id")
      .withColumn("payload", concat(lit("old-"), col("id")))
      .repartitionByRange(4, col("id")).sortWithinPartitions(col("id"))
    Snapshots.commit(base, dir)
    val before = Snapshots.manifestAt(dir, 0L)
    // a single source key: exactly one file's range can hold it
    Snapshots.merge(spark, dir,
      Seq((10L, "u10")).toDF("id", "payload"), "id")
    val after = Snapshots.manifestAt(dir, 1L)
    val rewritten = before.files.toSet.diff(after.files.toSet)
    assert(rewritten.size === 1,
      s"only the file covering key 10 may rewrite, got ${rewritten.mkString(", ")}")
    assert(Snapshots.read(spark, dir).count() === 100L)
  }

  test("merge refuses a stale expectedVersion and a schema-mismatched source") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0
    Snapshots.commitAppend(df(3), dir) // v1
    val e = intercept[IllegalArgumentException](
      Snapshots.merge(spark, dir, df(9), "id", expectedVersion = Some(0L)))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Snapshots.merge(spark, dir, Seq(1L).toDF("id"), "id"))
    assert(e2.getMessage.contains("exactly the table's columns"), e2.getMessage)
    // NULL source keys never match: they insert, target NULL-free rows survive
    val src = Seq((java.lang.Long.valueOf(99L), "p99"), (null: java.lang.Long, "pnull"))
      .toDF("id", "payload")
    Snapshots.merge(spark, dir, src, "id")
    val r = Snapshots.read(spark, dir)
    assert(r.count() === 5L, "3 survivors + 2 inserts (99 unmatched, NULL never matches)")
    assert(r.filter(col("id").isNull).count() === 1L)
  }

  test("z-order compact: selective predicates on EVERY clustered column skip files; lexicographic only helps the leading one") {
    val dir = fresh()
    // a 64x64 (x, y) grid — under lexicographic clusterBy(x) every
    // file spans ALL y values; under z-order both columns get tight
    // rectangles
    val grid = spark.range(0, 128L * 128L).toDF("i")
      .withColumn("x", col("i") % 128)
      .withColumn("y", floor(col("i") / 128).cast("long"))
      .drop("i")
    Snapshots.commit(grid, dir) // v0
    Snapshots.compact(spark, dir, clusterBy = Seq("x"), targetFileBytes = 2L << 10) // v1: lex
    val lexMan = Snapshots.manifestAt(dir, 1L)
    Snapshots.compact(spark, dir, zOrderBy = Seq("x", "y"), targetFileBytes = 2L << 10) // v2: z
    val zMan = Snapshots.manifestAt(dir, 2L)
    assert(lexMan.files.size >= 4 && zMan.files.size >= 4,
      s"need real file counts to compare (lex ${lexMan.files.size}, z ${zMan.files.size})")
    // row multiset preserved through both rewrites
    assert(Snapshots.read(spark, dir, 2L).groupBy("x").count().collect()
      .forall(_.getLong(1) === 128L))
    assert(Snapshots.read(spark, dir, 2L).count() === 16384L)
    def opened(version: Long, pred: org.apache.spark.sql.Column): Int =
      Snapshots.read(spark, dir, version, predicate = Some(pred)).inputFiles.length
    // leading column: both layouts skip
    assert(opened(2L, col("x") === 7L) < zMan.files.size)
    // SECOND column: z-order must open strictly fewer files than the
    // lexicographic layout (which cannot skip on y at all)
    val lexY = opened(1L, col("y") === 7L)
    val zY = opened(2L, col("y") === 7L)
    assert(zY < lexY,
      s"z-order must prune on the second cluster column: z=$zY vs lex=$lexY")
    // equality preserved under pruning on both layouts
    assert(Snapshots.read(spark, dir, 2L, Some(col("y") === 7L))
      .count() === 128L)
  }

  // ---- delta manifests + checkpoints (r15) -------------------------

  private def rawManifestBytes(dir: String, v: Long): Long =
    Files.size(java.nio.file.Paths.get(dir, f"_v$v%06d.manifest"))

  test("manifest growth bound: appends write O(per-commit) delta manifests, renames O(1); checkpoints cut the chain; fold == full") {
    val dir = fresh()
    Snapshots.commit(df(1L to 8L: _*).coalesce(1), dir) // v0: full
    (1 to 25).foreach { i =>
      Snapshots.commitAppend(df(100L + i).coalesce(1), dir)
    }
    // deltas stay flat while the folded list grows linearly
    val d5 = rawManifestBytes(dir, 5L)
    val d15 = rawManifestBytes(dir, 15L)
    assert(math.abs(d15 - d5) < d5 / 2,
      s"delta manifests must not grow with table size: v5=$d5 B, v15=$d15 B")
    assert(Snapshots.manifestAt(dir, 15L).files.size === 16,
      "folded list grows even though the manifest does not")
    // the chain cap forced at least one FULL checkpoint inside 25 appends
    val checkpoints = (1L to 25L).filter(v => Snapshots.manifestAt(dir, v).depth == 0)
    assert(checkpoints.nonEmpty, "a checkpoint manifest must cut the chain")
    val cp = checkpoints.head
    assert(rawManifestBytes(dir, cp) > 3 * d5,
      "the checkpoint manifest carries the full list")
    // every version reads identically to its recomputed content, and
    // the folded manifest equals what a full manifest records
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === ((1L to 8L) ++ (101L to 125L)).sorted)
    assert(Snapshots.countFromManifest(dir) === Some(33L),
      "folded stats answer metadata counts exactly")
    // a rename is a metadata-only O(1) delta: far smaller than even an
    // append delta (no file lines, no stats lines)
    Snapshots.renameColumn(dir, "payload", "body")
    val renameV = Snapshots.currentVersion(dir)
    if (Snapshots.manifestAt(dir, renameV).depth > 0)
      assert(rawManifestBytes(dir, renameV) < d5,
        "metadata-only rename must not restate the file list")
    assert(Snapshots.read(spark, dir).columns.toSeq === Seq("id", "body"))
  }

  test("every successor op reads the same whether the chain cap makes it a checkpoint or it commits as a delta") {
    import org.apache.commons.io.FileUtils
    val shallow = fresh()
    // base: partitioned, change feed on, a deletion vector present
    Snapshots.commit(Seq((1L, "a", "p1"), (2L, "a", "p2"), (3L, "b", "p3"),
      (4L, "b", "p4"), (5L, "c", "p5"), (6L, "c", "p6"))
      .toDF("id", "grp", "payload").coalesce(1), shallow, partitionBy = Seq("grp")) // v0
    Snapshots.setChangeFeed(shallow, true) // v1
    Snapshots.deleteWhere(spark, shallow, col("id") === 6L, deletionVectors = true) // v2
    val deep = fresh()
    FileUtils.copyDirectory(new java.io.File(shallow), new java.io.File(deep))
    // property commits up to the cap: deep's next commit must checkpoint
    Snapshots.setTableProperty(shallow, "k", Some("v"))
    while (Snapshots.currentManifest(deep).depth < Snapshots.DeltaChainLimit)
      Snapshots.setTableProperty(deep, "k", Some("v"))
    def row(id: Long, grp: String, payload: String) =
      Seq((id, grp, payload)).toDF("id", "grp", "payload")
    val ops: Seq[(String, String => Any)] = Seq(
      "append" -> (d => Snapshots.commitAppend(row(7L, "d", "p7"), d)),
      "stream-append" -> (d => Snapshots.streamAppendBatch(row(8L, "a", "p8"), 0L, d, "app")),
      "set-properties" -> (d => Snapshots.setTableProperties(d,
        Map("x" -> Some("1"), "k" -> None))),
      "rename" -> (d => Snapshots.renameColumn(d, "payload", "body")),
      "add-column" -> (d => Snapshots.addColumn(d, "extra",
        org.apache.spark.sql.types.LongType)),
      "dv-delete" -> (d => Snapshots.deleteWhere(spark, d, col("id") === 1L,
        deletionVectors = true)),
      "partition-delete" -> (d => Snapshots.deleteWhere(spark, d, col("grp") === "b")),
      "update" -> (d => Snapshots.updateWhere(spark, d, col("id") === 3L,
        Map("payload" -> lit("upd")))),
      // keyed on a column that is not the first: the anti-join moves it
      "merge" -> (d => Snapshots.merge(spark, d,
        row(20L, "a", "p2").unionByName(row(9L, "c", "p9")), key = "payload")),
      "merge-into" -> (d => Snapshots.mergeInto(spark, d,
        row(4L, "b", "!").unionByName(row(10L, "d", "m10")), keys = Seq("id"),
        updateSet = Some(Map("payload" -> concat(col("t.payload"), col("s.payload")))),
        insertCols = Some(Map("id" -> col("s.id"), "grp" -> col("s.grp"),
          "payload" -> col("s.payload"))))))
    def rows(d: String) =
      Snapshots.read(spark, d).collect().map(_.toString).sorted.toSeq
    def state(d: String) = {
      val v = Snapshots.currentVersion(d)
      val m = Snapshots.currentManifest(d)
      (rows(d), Snapshots.read(spark, d).schema, m.schema, m.props,
        Snapshots.changeFeed(spark, d, v, Some(v)).drop(Snapshots.CommitVersionCol)
          .collect().map(_.toString).sorted.toSeq)
    }
    ops.foreach { case (name, op) =>
      val (s, c) = (fresh(), fresh())
      FileUtils.copyDirectory(new java.io.File(shallow), new java.io.File(s))
      FileUtils.copyDirectory(new java.io.File(deep), new java.io.File(c))
      op(s)
      op(c)
      assert(Snapshots.currentVersion(s) === Snapshots.currentVersion(shallow) + 1,
        s"$name: the op must commit")
      assert(Snapshots.currentManifest(s).depth > 0, s"$name: shallow copy commits a delta")
      assert(Snapshots.currentManifest(c).depth === 0, s"$name: the capped chain checkpoints")
      assert(state(c) === state(s), s"$name: checkpoint and delta must read the same")
      // one further delta folds over the checkpoint like over the delta
      Seq(s, c).foreach(d => Snapshots.commitAppend(
        Snapshots.read(spark, d).filter(col("id") === 5L), d))
      assert(Snapshots.currentManifest(c).depth === 1, s"$name: delta on the checkpoint")
      assert(rows(c) === rows(s), s"$name: a delta on the checkpoint must read the same")
    }
  }

  test("vacuum demotes still-referenced doomed bases instead of deleting them; survivors stay readable") {
    val dir = fresh()
    Snapshots.commit(df(1, 2).coalesce(1), dir) // v0: full (a delta base)
    Snapshots.commitAppend(df(3).coalesce(1), dir) // v1: delta on v0
    Snapshots.commitAppend(df(4).coalesce(1), dir) // v2: delta on v1
    Snapshots.vacuum(dir, keepFrom = 2L)
    // v0/v1 are gone as VERSIONS...
    intercept[Exception](Snapshots.read(spark, dir, 0L))
    assert(Snapshots.earliestVersion(dir) === 2L)
    // ...but v2 (a delta whose chain bottoms out at v0) still folds
    assert(Snapshots.read(spark, dir, 2L).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
    assert(Files.exists(java.nio.file.Paths.get(dir, "_b000000.basemanifest")),
      "the doomed base is demoted, not deleted")
    // a checkpointing commit cuts the chain; the next vacuum reclaims
    // the now-unreferenced demoted bases
    Snapshots.commit(Snapshots.read(spark, dir), dir) // v3: full rewrite
    Snapshots.vacuum(dir, keepFrom = 3L)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "_b000000.basemanifest")),
      "unreferenced demoted bases are reclaimed")
    assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
  }

  test("changelog below the retention floor gives the vacuumed diagnostic, not a raw missing-version error") {
    val dir = fresh()
    Snapshots.commit(df(1), dir) // v0
    Snapshots.commit(df(2), dir) // v1
    Snapshots.commit(df(3), dir) // v2
    Snapshots.vacuum(dir, keepFrom = 2L)
    val e = intercept[IllegalStateException](
      Snapshots.changelog(spark, dir, sinceVersion = 1L, "id", Seq("id", "payload")))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // AT the floor is still exactly servable (strict-< boundary)
    Snapshots.changelog(spark, dir, 2L, "id", Seq("id", "payload")).collect()
  }

  test("pluggable commit protocol (r18): every publish routes through the hook; a lost race still refuses with OCC semantics") {
    val dir = fresh()
    Snapshots.commit(df(1, 2), dir) // v0 through the default protocol
    // a COUNTING wrapper proves the routing: every publish goes
    // through the active protocol (manifest writes have no other path)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val prev = Snapshots.commitProtocol
    try {
      Snapshots.commitProtocol = new Snapshots.CommitProtocol {
        override def publish(f: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path, v: Long,
                             target: org.apache.hadoop.fs.Path,
                             body: Array[Byte]): Unit = {
          calls.incrementAndGet()
          Snapshots.RenameCommitProtocol.publish(f, root, v, target, body)
        }
      }
      Snapshots.commitAppend(df(3), dir) // v1
      Snapshots.renameColumn(dir, "payload", "body") // v2 (metadata-only)
      assert(calls.get() >= 2,
        "both the append and the rename must publish through the hook")
      // LOST RACE: a protocol that loses every publish to a racer (the
      // conditional-PUT 412 shape on an object store) must surface as
      // the same 'concurrent commit' refusal the OCC retry loops
      // understand — never a silent overwrite, never a torn table
      Snapshots.commitProtocol = new Snapshots.CommitProtocol {
        override def publish(f: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path, v: Long,
                             target: org.apache.hadoop.fs.Path,
                             body: Array[Byte]): Unit =
          throw new IllegalStateException(
            s"concurrent commit: version $v already published by a racer")
      }
      val e = intercept[Exception] {
        Snapshots.renameColumn(dir, "body", "payload2")
      }
      assert(e.getMessage.contains("concurrent commit"), e.getMessage)
      // nothing published, nothing torn: the table still reads at v2
      assert(Snapshots.currentVersion(dir) === 2L)
      Snapshots.commitProtocol = prev
      assert(Snapshots.read(spark, dir).select("id").as[Long].collect().sorted
        .toSeq === Seq(1L, 2L, 3L))
    } finally Snapshots.commitProtocol = prev
  }
}
