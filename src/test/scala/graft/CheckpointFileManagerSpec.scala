package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  CommitLog, CommitMetadata, FileContextBasedCheckpointFileManager}

/** Protocol pins for the checkpoint manager every stream runs on:
  * Spark's FileContext-based manager over the engine's local filesystem.
  * These are the properties the streaming WAL/state-store machinery relies
  * on (atomic visibility, concurrent-writer detection via
  * FileAlreadyExistsException, cancel leaving nothing behind, Hadoop
  * list/open/delete semantics). */
class CheckpointFileManagerSpec extends SparkSpec {

  private def withManager(test: (CheckpointFileManager, java.io.File) => Unit): Unit = {
    val dir = new java.io.File(tmpDir("cfm_spec_"))
    val fm = CheckpointFileManager.create(new Path(dir.getAbsolutePath), new Configuration())
    // create() falls back to the FileSystem-based manager, with a warning,
    // when FileContext cannot serve the scheme
    assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager],
      s"expected the FileContext manager, got ${fm.getClass.getName}")
    test(fm, dir)
  }

  test("createAtomic: file invisible until close, bytes exact after") {
    withManager { (fm, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/offsets/0")
      // Spark's manager creates no parent dirs: its logs mkdirs first
      intercept[java.io.FileNotFoundException] {
        fm.createAtomic(p, overwriteIfPossible = false)
      }
      fm.mkdirs(p.getParent)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write("v1\nbatch0".getBytes("UTF-8"))
      assert(!fm.exists(p), "final path must not exist before close")
      out.close()
      assert(fm.exists(p))
      val in = fm.open(p)
      val bytes = new Array[Byte](9)
      in.readFully(0L, bytes)
      in.close()
      assert(new String(bytes, "UTF-8") == "v1\nbatch0")
      // no temp-file or .crc litter in the parent
      val names = new java.io.File(dir, "offsets").list().toSeq
      assert(names == Seq("0"), s"unexpected litter: $names")
    }
  }

  test("createAtomic without overwrite throws Hadoop FileAlreadyExists on a taken path") {
    withManager { (fm, dir) =>
      val log = new CommitLog(spark, s"${dir.getAbsolutePath}/commits")
      assert(log.add(7, CommitMetadata(nextBatchWatermarkMs = 1234L)))
      val p = new Path(s"${dir.getAbsolutePath}/commits/7")
      val loser = fm.createAtomic(p, overwriteIfPossible = false)
      loser.write(2)
      intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
        loser.close()
      }
      // Spark's manager leaves the loser's hidden temp file behind; the
      // metadata log's batch-file filter must not see it, and the winner's
      // bytes stay
      val names = new java.io.File(dir, "commits").list().toSeq.sorted
      assert(names.size == 2 && names.head.startsWith(".7.") &&
        names.head.endsWith(".tmp") && names(1) == "7", s"commits dir: $names")
      assert(log.getLatestBatchId().contains(7L))
      assert(log.get(None, None).map { case (id, c) => id -> c.nextBatchWatermarkMs }
        .toSeq == Seq(7L -> 1234L))
    }
  }

  // on a local path FileContext overwrites by delete-then-rename, so a
  // reader can see no file between the two; the bytes are what is pinned
  test("createAtomic with overwrite replaces the previous bytes") {
    withManager { (fm, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/state/1.delta")
      fm.mkdirs(p.getParent)
      val a = fm.createAtomic(p, overwriteIfPossible = true)
      a.write(10); a.close()
      val b = fm.createAtomic(p, overwriteIfPossible = true)
      b.write(20); b.close()
      val in = fm.open(p)
      assert(in.read() == 20)
      in.close()
      assert(new java.io.File(dir, "state").list().toSeq == Seq("1.delta"))
    }
  }

  test("cancel leaves no final file and no temp litter") {
    withManager { (fm, dir) =>
      val p = new Path(s"${dir.getAbsolutePath}/offsets/9")
      fm.mkdirs(p.getParent)
      val out = fm.createAtomic(p, overwriteIfPossible = false)
      out.write(42)
      out.cancel()
      assert(!fm.exists(p))
      assert(new java.io.File(dir, "offsets").list().toSeq.isEmpty)
      // close after cancel is a no-op, not a resurrection
      out.close()
      assert(!fm.exists(p))
    }
  }

  test("list filters like the default manager and throws on a missing dir") {
    withManager { (fm, dir) =>
      fm.mkdirs(new Path(s"${dir.getAbsolutePath}/log"))
      Seq("0", "1", ".0.tmp").foreach { n =>
        Files.write(Paths.get(dir.getAbsolutePath, "log", n), Array[Byte](1))
      }
      val batchFiles = fm.list(new Path(s"${dir.getAbsolutePath}/log"),
        (path: Path) => !path.getName.startsWith("."))
      assert(batchFiles.map(_.getPath.getName).sorted.toSeq == Seq("0", "1"))
      assert(batchFiles.forall(_.getLen == 1))
      intercept[java.io.FileNotFoundException] {
        fm.list(new Path(s"${dir.getAbsolutePath}/absent"))
      }
    }
  }

  test("delete is recursive and idempotent") {
    withManager { (fm, dir) =>
      fm.mkdirs(new Path(s"${dir.getAbsolutePath}/state/0"))
      Files.write(Paths.get(dir.getAbsolutePath, "state", "0", "1.delta"),
        Array[Byte](1))
      fm.delete(new Path(s"${dir.getAbsolutePath}/state"))
      assert(!fm.exists(new Path(s"${dir.getAbsolutePath}/state")))
      fm.delete(new Path(s"${dir.getAbsolutePath}/state")) // absent: no-op
    }
  }
}
