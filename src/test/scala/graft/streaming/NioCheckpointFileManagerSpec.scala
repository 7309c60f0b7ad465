package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import graft.{GraftSession, SparkSpec}

/** The checkpoint manager keeps Spark's `CheckpointFileManager` contract
  * on local paths and hands every other scheme to Spark's default.
  */
class NioCheckpointFileManagerSpec extends SparkSpec {
  private val conf = new Configuration()

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("nio-ckpt")
    try body(dir)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
  private def manager(dir: JPath) = new NioCheckpointFileManager(new Path(dir.toUri), conf)
  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet
  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  test("createAtomic then close lands the file and leaves no temp file") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "v1\n{}", overwrite = false)
      assert(read(fm, p) == "v1\n{}")
      assert(names(dir) == Set("0"))
      write(fm, p, "v1\n{\"x\":1}", overwrite = true)
      assert(read(fm, p) == "v1\n{\"x\":1}")
    }
  }

  test("overwriteIfPossible=false on an existing file throws and keeps only the original") {
    withDir { dir =>
      val fm = manager(dir)
      val p = new Path(dir.toUri.toString, "0")
      write(fm, p, "original", overwrite = false)
      intercept[FileAlreadyExistsException](write(fm, p, "replacement", overwrite = false))
      assert(read(fm, p) == "original")
      assert(names(dir) == Set("0"))
    }
  }

  test("cancel leaves neither a temp file nor the target") {
    withDir { dir =>
      val fm = manager(dir)
      val out = fm.createAtomic(new Path(dir.toUri.toString, "0"), false)
      out.write("partial".getBytes(UTF_8))
      out.cancel()
      assert(names(dir).isEmpty)
    }
  }

  test("a checkpoint written earlier by Hadoop, with .crc files, reads back and can be replaced") {
    withDir { dir =>
      val p = new Path(dir.toUri.toString, "0")
      val out = FileSystem.getLocal(conf).create(p, true)
      out.write("hadoop".getBytes(UTF_8))
      out.close()
      assert(names(dir) == Set("0", ".0.crc"))
      val fm = manager(dir)
      assert(read(fm, p) == "hadoop")
      // the rename drops the stale checksum, so the new content verifies
      write(fm, p, "nio, longer than before", overwrite = true)
      assert(read(fm, p) == "nio, longer than before")
      assert(names(dir) == Set("0"))
    }
  }

  test("a non-file scheme gets Spark's default manager class") {
    val hdfs = new Path("hdfs://localhost:1/checkpoint")
    val sparkDefault = CheckpointFileManager.create(hdfs, new Configuration()).getClass
    assert(sparkDefault == classOf[FileContextBasedCheckpointFileManager])
    assert(new NioCheckpointFileManager(hdfs, conf).impl.getClass == sparkDefault)
    withDir(dir => assert(manager(dir).impl.getClass != sparkDefault))
  }

  test("the Spark session builds checkpoint logs through this manager") {
    val hadoopConf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    assert(GraftSession.streamingConf.forall { case (k, v) => hadoopConf.get(k) == v })
    withDir { dir =>
      assert(CheckpointFileManager.create(new Path(dir.toUri), hadoopConf)
        .isInstanceOf[NioCheckpointFileManager])
    }
  }
}
