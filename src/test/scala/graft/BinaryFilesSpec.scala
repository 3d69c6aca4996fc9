package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BinaryFiles

/** The whole-file reader serves local directories under a local master
  * and refuses anything its java.nio tasks could not read.
  */
class BinaryFilesSpec extends AnyFunSuite {
  import TestSpark.spark

  test("plain and file: paths read the same rows, with file: path strings") {
    val dir = Files.createTempDirectory("binfiles")
    Files.write(dir.resolve("a.pdf"), Array[Byte](1, 2))
    Files.write(dir.resolve("b.pdf"), Array[Byte](3))
    Files.write(dir.resolve("c.txt"), Array[Byte](4))
    Files.write(dir.resolve("_graft_fingerprint"), Array[Byte](5)) // a build-once marker is no file of the corpus
    def rows(d: String) = BinaryFiles.read(spark, d, ".pdf").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).sortBy(_._1).toSeq
    val abs = dir.toAbsolutePath.toString
    assert(rows(abs) === Seq(s"file:$abs/a.pdf" -> Seq[Byte](1, 2), s"file:$abs/b.pdf" -> Seq[Byte](3)))
    assert(rows(s"file:$abs") === rows(abs))
  }

  test("a non-file: path is refused with a message naming the path") {
    for (dir <- Seq("hdfs://namenode:8020/corpus/pdfs", "s3a://bucket/pdfs")) {
      val e = intercept[IllegalArgumentException](BinaryFiles.read(spark, dir, ".pdf"))
      assert(e.getMessage.contains(dir), e.getMessage)
    }
  }

  test("a non-local master is refused with a message naming the path") {
    assert(BinaryFiles.localDir("/data/pdfs", "local[4]") === "/data/pdfs")
    assert(BinaryFiles.localDir("file:/data/pdfs", "local") === "/data/pdfs")
    for (master <- Seq("spark://host:7077", "yarn", "local-cluster[2,1,1024]")) {
      val e = intercept[IllegalArgumentException](BinaryFiles.localDir("/data/pdfs", master))
      assert(e.getMessage.contains("/data/pdfs") && e.getMessage.contains(master), e.getMessage)
    }
  }
}
