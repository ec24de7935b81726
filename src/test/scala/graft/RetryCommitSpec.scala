package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.icelite.{CommitConflict, MetaIo, TableMeta}

/** `MetaIo.retryCommit`, the one optimistic-retry loop every commit mode
  * runs through: it retries a lost version race, and nothing else.
  */
class RetryCommitSpec extends AnyFunSuite {

  private lazy val fs = FileSystem.getLocal(new Configuration())

  private lazy val tableDir: Path = {
    val dir = fs.makeQualified(new Path("target/test-scratch/retry-commit"))
    fs.delete(dir, true)
    MetaIo.commit(fs, dir, TableMeta(formatVersion = TableMeta.FormatVersion, namespace = "ns",
      name = "t", schemaDdl = "id BIGINT", partitionBy = Nil,
      currentSnapshotId = 0L, snapshots = Nil, version = 1))
    dir
  }

  /** Runs `body` under retryCommit, returning its result and call count. */
  private def counted[A](body: Int => A): (Either[Throwable, A], Int) = {
    var calls = 0
    val result =
      try Right(MetaIo.retryCommit(fs, tableDir) { m =>
        assert(m.version == 1) // each attempt gets the freshly read metadata
        calls += 1
        body(calls)
      })
      catch { case e: Throwable => Left(e) }
    (result, calls)
  }

  test("a body that always conflicts runs 6 times, then the conflict surfaces") {
    val (result, calls) = counted(n => throw new CommitConflict(s"lost $n"))
    assert(calls == 6)
    result match {
      case Left(e: CommitConflict) => assert(e.getMessage == "lost 6")
      case other => fail(s"expected the last CommitConflict, got $other")
    }
  }

  test("any other failure runs once and propagates unretried") {
    val failures: Seq[() => Throwable] = Seq(
      () => new IllegalStateException("commit rename failed"),
      () => new IllegalArgumentException("raced a concurrent schema change"))
    failures.foreach { mk =>
      val thrown = mk()
      val (result, calls) = counted(_ => throw thrown)
      assert(calls == 1, thrown.toString)
      assert(result == Left(thrown))
    }
  }

  test("a body that conflicts twice, then succeeds, returns on attempt 3") {
    val (result, calls) = counted { n =>
      if (n < 3) throw new CommitConflict(s"lost $n")
      s"committed on $n"
    }
    assert(calls == 3)
    assert(result == Right("committed on 3"))
  }
}
