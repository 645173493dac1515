package graft.io

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class ZonesSpec extends AnyFunSuite {
  test("tempDir paths live under java.io.tmpdir and are unique per call") {
    val pinned = Files.createTempDirectory("zones_spec_tmp").toAbsolutePath.normalize
    val prev = System.getProperty("java.io.tmpdir")
    val (a, b) =
      try {
        System.setProperty("java.io.tmpdir", pinned.toString)
        (Zones.tempDir("zones_spec"), Zones.tempDir("zones_spec"))
      } finally System.setProperty("java.io.tmpdir", prev)
    assert(a !== b)
    Seq(a, b).foreach { p =>
      val path = Paths.get(p).toAbsolutePath.normalize
      assert(path.getParent === pinned, s"$p is not directly under $pinned")
      assert(path.getFileName.toString.startsWith("zones_spec_"))
    }
    Files.delete(pinned)
  }
}
