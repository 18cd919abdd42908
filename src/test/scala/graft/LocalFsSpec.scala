package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._

import graft.io.{Artifacts, NioLocalFileSystem, NioLocalFs, Pipeline}
import graft.streaming.StreamOps

/** The engine's local filesystem: installed for `file:` on both Hadoop
  * APIs, it writes the permission bits it is asked for, and a pipeline
  * job, a stream and an artifact write start no `chmod` or `readlink`
  * process (JFR `jdk.ProcessStart`). */
class LocalFsSpec extends SparkSpec {

  /** The command lines of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val dump = Paths.get(tmpDir("jfr_"), "forks.jfr")
      rec.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally rec.close()
  }

  test("a pipeline job, a stream and an artifact write fork no chmod or readlink") {
    val src = Files.createDirectory(Paths.get(tmpDir("forks_pipe"), "src")).toString
    Files.write(Paths.get(src, "20230703_measurement_data.csv"),
      Seq("start_time,end_time,samples,temperature",
        "2023-07-03 00:00:00,2023-07-03 00:00:30,3,21.5").mkString("\n").getBytes)
    val corpus = tmpDir("forks_corpus")
    Files.write(Paths.get(corpus, "part-0"), Array[Byte](1))
    val commands = processStarts {
      val (files, rows) = Pipeline.runIncremental(spark, src, src + "_out", src + "_ledger")
      assert(files.size == 1 && rows == 3)
      val agg = StreamOps.eventsStream(spark, "/root/testdata/sf0.001")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      assert(StreamOps.runToTable(spark, agg, "forks_stream", "complete").count() > 0)
      Artifacts.writeOnce(spark, corpus, "spec_forks", Map("k" -> "v"))(spark.range(3).toDF())
    }
    val forks = commands.filter { c =>
      Set("chmod", "readlink")(Paths.get(c.trim.split("\\s+").head).getFileName.toString)
    }
    assert(forks.isEmpty, s"${forks.size} forks, first: ${forks.take(3).mkString("; ")}")
  }

  test("file: resolves to the nio filesystem on the FileSystem and FileContext APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getLocalFSFileContext.getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }

  test("mkdirs and create leave the permission bits they ask for") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    val root = tmpDir("perms")
    def bits(p: String) = PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))
    Seq("755" -> "rwxr-xr-x", "711" -> "rwx--x--x").foreach { case (mode, want) =>
      val d = s"$root/d$mode"
      assert(fs.mkdirs(new Path(d), new FsPermission(mode)))
      assert(bits(d) == want, s"mkdirs $mode")
    }
    Seq("644" -> "rw-r--r--", "640" -> "rw-r-----").foreach { case (mode, want) =>
      val f = s"$root/f$mode"
      fs.create(new Path(f), new FsPermission(mode), true, 4096, 1.toShort, 1L << 20, null).close()
      assert(bits(f) == want, s"create $mode")
    }
  }
}
