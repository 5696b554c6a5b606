package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** TempPaths.buildOnce: the build-once protocol of the q169/q209 artifacts
  * and the capstone fixtures.
  */
class TempPathsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("buildOnce builds once per key, again on rebuild, on a changed key and after a failed build") {
    var builds = 0
    def build(key: Seq[Any], rebuild: Boolean = false, fail: Boolean = false): java.io.File =
      TempPaths.buildOnce(spark, "temp_paths_spec", key, rebuild) { dir =>
        builds += 1
        if (fail) throw new IllegalStateException("build failed")
        java.nio.file.Files.writeString(new java.io.File(dir, "out").toPath, builds.toString)
      }
    def markers(dir: java.io.File) = dir.listFiles().count(_.getName.startsWith("_built_"))

    val dir = build(Seq("/data/sf1", 10L, "99"))
    assert(builds === 1)
    assert(build(Seq("/data/sf1", 10L, "99")) === dir)
    assert(builds === 1, "same key: no second build")
    build(Seq("/data/sf1", 10L, "99"), rebuild = true)
    assert(builds === 2, "rebuild = true builds again")
    build(Seq("/data/sf1", 11L, "99"))
    assert(builds === 3, "a changed key builds again")
    assert(markers(dir) === 1, "stale markers are removed")
    build(Seq("/data/sf1", 10L, "99"))
    assert(builds === 4, "returning to an earlier key builds again")
    assert(java.nio.file.Files.readString(new java.io.File(dir, "out").toPath) === "4")

    intercept[IllegalStateException](build(Seq("/data/sf2"), fail = true))
    assert(markers(dir) === 0, "a failed build leaves no marker")
    build(Seq("/data/sf2"))
    assert(builds === 6, "the key of a failed build builds again")
  }
}
