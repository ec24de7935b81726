package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.icelite.{CommitConflict, IceCatalog, IceTable, MetaIo}

/** Torn-commit crash properties: a commit killed at EACH protocol step
  * (manifest write -> version CAS -> version-file rename -> hint swap;
  * injected via MetaIo.commitFailpoint, production code paths unchanged)
  * must leave the table in a state where
  *
  *  1. reads are CONSISTENT — the prior version for a pre-version-file
  *     kill; the torn-but-durable commit for a post-version-file kill
  *     (rename is atomic, so the version file's existence implies
  *     integrity: the roll-forward read adopts it rather than losing it);
  *  2. a subsequent writer SUCCEEDS — abandoned claims (no version file,
  *     older than `commit.claim-grace-ms`) are taken over, completed-but-
  *     unswapped versions are rolled past;
  *  3. orphan GC reclaims the partial artifacts past the age gate (data
  *     files of the dead attempt, unreferenced manifests, aside `.tmp`
  *     files) while claim markers — the anti-straggler CAS ledger — and
  *     all live data survive.
  */
class TornCommitSpec extends SparkSpec {

  private def hfs(p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val steps =
    Seq("manifests-written", "claimed", "vfile-renamed", "hint-tmp-written")

  test("a commit killed at each protocol step: consistent reads, recoverable writes, GC-able debris") {
    import spark.implicits._
    steps.foreach { step =>
      val wh = scratch(s"torn-$step")
      val cat = new IceCatalog(spark, wh)
      val df1 = (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v")
      val df2 = (11L to 20L).map(i => (i, s"b$i")).toDF("id", "v")
      val df3 = (21L to 30L).map(i => (i, s"c$i")).toDF("id", "v")
      val tbl = cat.createTable("lake", "t", df1.schema,
        properties = Map("commit.claim-grace-ms" -> "0"))
      tbl.append(df1.repartition(1))

      // kill the next commit at `step` (the failpoint throws where a
      // process crash would stop; the exception must NOT be a retryable
      // CommitConflict, or append would paper over it)
      MetaIo.commitFailpoint = step
      try intercept[MetaIo.InjectedCommitCrash] {
        cat.loadTable("lake", "t").append(df2.repartition(1))
      } finally MetaIo.commitFailpoint = ""

      def ids(): Set[Long] = cat.loadTable("lake", "t").toDF
        .select("id").collect().map(_.getLong(0)).toSet
      // (1) reads are consistent: pre-version-file kills serve the prior
      // version; post-version-file kills serve the durable torn commit
      val durable = step == "vfile-renamed" || step == "hint-tmp-written"
      val expectAfterCrash =
        if (durable) (1L to 20L).toSet else (1L to 10L).toSet
      assert(ids() == expectAfterCrash, s"[$step] read after crash")

      // (2) a subsequent writer succeeds and lands ON TOP of the
      // consistent state (no lost update, no version brick)
      cat.loadTable("lake", "t").append(df3.repartition(1))
      val expectAfterRecovery = expectAfterCrash ++ (21L to 30L)
      assert(ids() == expectAfterRecovery, s"[$step] recovery append")

      // (3) orphan GC reclaims the dead attempt's debris past the age
      // gate; live rows and the claim ledger survive
      cat.loadTable("lake", "t").removeOrphanFiles(graceMs = 0L)
      assert(ids() == expectAfterRecovery, s"[$step] GC must not eat live data")
      val metaDir = hfs(wh).listStatus(
        new Path(s"$wh/lake/t/metadata")).map(_.getPath.getName)
      assert(!metaDir.exists(_.endsWith(".tmp")),
        s"[$step] GC must sweep torn aside-files, got ${metaDir.toSeq}")
      assert(metaDir.exists(_.endsWith(".claim")),
        s"[$step] claim markers are the CAS ledger and must survive GC")
      if (!durable) {
        // the dead attempt's data files are unreferenced by any snapshot
        // and must be gone; every remaining file belongs to a manifest
        val live = {
          val t = cat.loadTable("lake", "t")
          t.meta.snapshots.flatMap(s => t.visibleFiles(s))
            .map(f => hfs(wh).makeQualified(new Path(f.path)).toString).toSet
        }
        val it = hfs(wh).listFiles(new Path(s"$wh/lake/t/data"), true)
        val onDisk = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => hfs(wh).makeQualified(f.getPath).toString).toSet
        assert(onDisk.subsetOf(live),
          s"[$step] dead attempt's data files must be GC-ed: ${onDisk -- live}")
      }

      // (4) the recovered table keeps committing normally (the takeover /
      // roll-forward left no wedged state behind)
      cat.loadTable("lake", "t").append(df1.select(col("id") + 100, col("v"))
        .toDF("id", "v").repartition(1))
      assert(ids().size == expectAfterRecovery.size + 10, s"[$step] post-recovery append")
    }
  }

  test("recovery composes with concurrent writers: racing appends drain past a torn claim") {
    import spark.implicits._
    val wh = scratch("torn-race")
    val cat = new IceCatalog(spark, wh)
    val df = (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v")
    val tbl = cat.createTable("lake", "t", df.schema,
      properties = Map("commit.claim-grace-ms" -> "0"))
    tbl.append(df.repartition(1))
    MetaIo.commitFailpoint = "claimed"
    try intercept[MetaIo.InjectedCommitCrash] {
      cat.loadTable("lake", "t").append(df.repartition(1))
    } finally MetaIo.commitFailpoint = ""
    // four writers race into the table while the torn claim blocks the
    // next version: exactly one takes the abandoned version over, the
    // others lose the CAS normally and retry on top — nobody bricks,
    // nothing is lost, totals are exact
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      val th = new Thread(() =>
        try cat.loadTable("lake", "t").append(
          (1L to 5L).map(j => (i * 100L + j, s"t$i-$j")).toDF("id", "v")
            .repartition(1))
        catch { case e: Throwable => errs.add(e) })
      th.start(); th
    }
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"racing appends must all land: ${errs.toArray.toSeq}")
    val t2 = cat.loadTable("lake", "t")
    assert(t2.toDF.count() == 30, "10 base rows + 4 x 5 raced rows")
    assert(t2.meta.snapshots.length == 5, "base append + 4 raced appends")
  }

  test("randomized torn commits inside op sequences always converge to the model") {
    import spark.implicits._
    val rnd = new scala.util.Random(1616)
    (0 until 4).foreach { trial =>
      val wh = scratch(s"tornprop-$trial")
      val cat = new IceCatalog(spark, wh)
      val schema = Seq((1L, "x")).toDF("id", "v").schema
      val tbl = cat.createTable("lake", "t", schema,
        properties = Map("commit.claim-grace-ms" -> "0"))
      var model = Map.empty[Long, String]
      var nextId = 1L
      def df(m: Map[Long, String]) = m.toSeq.toDF("id", "v")

      (0 until 8).foreach { step =>
        // ~1/3 of ops die mid-commit at a random protocol step. The model
        // absorbs the op's effect ONLY when the kill point left a durable
        // version file (rename is the commit point under roll-forward
        // reads); pre-v-file kills must leave the table exactly as before.
        val fail = if (rnd.nextInt(3) == 0) steps(rnd.nextInt(steps.length)) else ""
        val durable = fail == "vfile-renamed" || fail == "hint-tmp-written"
        MetaIo.commitFailpoint = fail
        var effect = Map.empty[Long, String]
        var committed = false
        try {
          rnd.nextInt(4) match {
            case 0 | 1 =>
              effect = (0 until (1 + rnd.nextInt(3))).map { _ =>
                val id = nextId; nextId += 1; id -> s"a$id" }.toMap
              tbl.append(df(effect).repartition(1 + rnd.nextInt(2)))
              committed = true
            case 2 =>
              val existing = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(2))
              val fresh = { val id = nextId; nextId += 1; Seq(id) }
              effect = (existing ++ fresh).map(id => id -> s"u$id").toMap
              tbl.upsert(df(effect), Seq("id"))
              committed = true
            case 3 =>
              // content-neutral: crashing it never changes expected rows
              if (model.nonEmpty) tbl.compact(1 + rnd.nextInt(2))
              committed = true
          }
        } catch {
          case _: MetaIo.InjectedCommitCrash => committed = durable
        } finally MetaIo.commitFailpoint = ""
        if (committed) model ++= effect
        val got = cat.loadTable("lake", "t").toDF.collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(got == model,
          s"trial $trial step $step (fail='$fail'): got ${got.size} rows, " +
            s"expected ${model.size}; diff=${(got.toSet diff model.toSet).take(5)}")
      }
      // the table is never wedged: one more clean append always lands
      val tail = Map(nextId -> s"z$nextId"); nextId += 1
      cat.loadTable("lake", "t").append(df(tail).repartition(1))
      model ++= tail
      val fin = cat.loadTable("lake", "t").toDF.collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(fin == model, s"trial $trial: post-sequence append diverged")
    }
  }

  test("an in-grace claim is NOT taken over (a slow committer keeps exclusivity)") {
    import spark.implicits._
    val df = (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
    val ext = scratch("torn-grace-ext")
    df.repartition(1).write.parquet(ext)
    // every retrying IceTable entry point: its set-up runs before the
    // claim is taken and returns the commit to attempt after it
    val entryPoints: Seq[(String, IceTable => IceTable => Any)] = Seq(
      ("append", (_: IceTable) => (t: IceTable) => t.append(df.repartition(1))),
      ("appendToRef", { (t: IceTable) =>
        t.branch("audit", t.meta.currentSnapshotId)
        (u: IceTable) => u.appendToRef("audit", df.repartition(1))
      }),
      ("stageWap", (_: IceTable) => (t: IceTable) => t.stageWap("w1", df.repartition(1))),
      ("cherryPick", { (t: IceTable) =>
        t.stageWap("w0", df.repartition(1))
        val staged = t.snapshots.last.snapshotId
        (u: IceTable) => u.cherryPick(staged)
      }),
      ("addFiles", (_: IceTable) => (t: IceTable) => t.addFiles(ext)))
    entryPoints.foreach { case (name, setUp) =>
      val cat = new IceCatalog(spark, scratch(s"torn-grace-$name"))
      val tbl = cat.createTable("lake", "t", df.schema)
      tbl.append(df.repartition(1))
      val op = setUp(tbl)
      val before = tbl.snapshots.map(_.snapshotId)
      // default grace (10 min): a fresh claim with no version file reads
      // as in-flight, so the next writer loses the CAS on every retry and
      // surfaces the typed conflict instead of racing the claimer's
      // imminent version-file rename
      MetaIo.commitFailpoint = "claimed"
      try intercept[MetaIo.InjectedCommitCrash] {
        cat.loadTable("lake", "t").append(df.repartition(1))
      } finally MetaIo.commitFailpoint = ""
      intercept[CommitConflict](op(cat.loadTable("lake", "t")))
      assert(cat.loadTable("lake", "t").snapshots.map(_.snapshotId) == before,
        s"[$name] a lost commit must leave the snapshot list unchanged")
    }
  }
}
