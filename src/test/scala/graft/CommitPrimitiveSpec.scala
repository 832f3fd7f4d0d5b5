package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CommitCertification, CommitPrimitive}

/** The commit-primitive seam's certification: the shipped impls pass
  * their reachable legs, the scheme router never offers an uncertified
  * primitive, and — the part that gives the certification teeth — a
  * deliberately-broken check-then-act emulation is REJECTED by the same
  * harness (so "passes CommitCertification" is a real claim, not a
  * vacuous one). */
class CommitPrimitiveSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = TestSpark.spark

  private def scratch(prefix: String): (FileSystem, Configuration, String) = {
    val dir = tmpDir(prefix)
    val conf = spark.sessionState.newHadoopConf()
    (new Path(dir).getFileSystem(conf), conf, dir)
  }

  test("HardLink passes FULL certification on the local filesystem — " +
      "sequential CAS semantics and the publication race") {
    val (fs, conf, dir) = scratch("certlink")
    val findings = CommitCertification.certify(
      CommitPrimitive.HardLink, fs, conf, s"$dir/c")
    assert(findings.isEmpty, findings.mkString("; "))
  }

  test("the certification has TEETH: a plain-POSIX-rename emulation " +
      "(check-then-act) is rejected — the race leg detects the lost " +
      "update that primitive would ship") {
    // The exact broken draft TableManifest's history caught: exists?
    // then rename-with-replace. Sequentially it looks correct; under
    // the race two contenders both pass the check and both "win".
    object BrokenRename extends CommitPrimitive {
      val name = "broken-posix-rename"
      def publish(fs: FileSystem, conf: Configuration,
                  tmp: Path, dst: Path): Boolean = {
        if (fs.exists(dst)) return false
        java.nio.file.Files.move( // POSIX: silently replaces dst
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      }
    }
    val (fs, conf, dir) = scratch("certbroken")
    // more rounds than the shipped-impl run: the violation is a race
    // window, and the assertion is "caught at least once", which a
    // wider net makes deterministic in practice
    val findings = CommitCertification.certify(
      BrokenRename, fs, conf, s"$dir/c", contenders = 16, races = 60)
    assert(findings.nonEmpty,
      "certification passed a check-then-act rename emulation — the " +
        "race leg lost its teeth")
    assert(findings.exists(f =>
      f.contains("winners") || f.contains("content")),
      s"unexpected finding shape: ${findings.take(3).mkString("; ")}")
  }

  test("HdfsRename passes the sequential legs; its race leg is HDFS " +
      "NameNode semantics, deliberately NOT certified from a local box " +
      "(FileContext over file:// is check-then-act — the router never " +
      "offers it for local paths)") {
    val (fs, conf, dir) = scratch("certfc")
    val root = new Path(s"$dir/c"); fs.mkdirs(root)
    def stage(name: String, body: String): Path = {
      val p = new Path(root, name)
      val out = fs.create(p, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      p
    }
    val dst = new Path(root, "dst")
    assert(CommitPrimitive.HdfsRename.publish(fs, conf,
      stage("a.tmp", "A"), dst), "first publish must win")
    assert(!CommitPrimitive.HdfsRename.publish(fs, conf,
      stage("b.tmp", "B"), dst),
      "second publish of an existing dst must lose")
    val in = fs.open(dst)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(body == "A", "losing publish mutated the destination")
  }

  test("the scheme router: local → HardLink, hdfs/viewfs → HdfsRename, " +
      "object stores → None (the commit path's loud refusal)") {
    assert(CommitPrimitive.forScheme(null) == Some(CommitPrimitive.HardLink))
    assert(CommitPrimitive.forScheme("file") ==
      Some(CommitPrimitive.HardLink))
    assert(CommitPrimitive.forScheme("hdfs") ==
      Some(CommitPrimitive.HdfsRename))
    assert(CommitPrimitive.forScheme("viewfs") ==
      Some(CommitPrimitive.HdfsRename))
    for (s <- Seq("s3a", "gs", "wasb", "abfs", "oss"))
      assert(CommitPrimitive.forScheme(s).isEmpty,
        s"uncertified scheme $s must not resolve a primitive")
  }
}
