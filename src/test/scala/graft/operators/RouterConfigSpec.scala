package graft.operators

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class RouterConfigSpec extends AnyFunSuite with graft.SparkSpec {

  private def write(dir: Path, name: String, content: String): Path = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes("UTF-8"))
    p
  }

  test("defaults ← user ← project merge, later files win key-by-key") {
    val dir = java.nio.file.Paths.get(tmpDir("graft_cfg"))
    val user = write(dir, ".erde.yml",
      """routers:
        |  local: http://user-override:5000
        |  foot: http://foot.example:5001
        |""".stripMargin)
    val project = write(dir, "erde.yml",
      """# project config
        |routers:
        |  foot: "http://project-foot:5002"
        |other:
        |  key: ignored
        |""".stripMargin)
    val r = RouterConfig.routers(userPath = user, projectPath = project)
    assert(r("local") == "http://user-override:5000") // user beats default
    assert(r("foot") == "http://project-foot:5002") // project beats user
    assert(!r.contains("key")) // other sections don't leak
  }

  test("data_merge mirrors the reference's cases (tests/test_data_merge.py)") {
    import RouterConfig.{dataMerge, MergeError}
    // no nested data: b's keys override/extend a's
    val a1 = Map[String, Any]("key1" -> "val1", "key2" -> 123, "key3" -> 4.56)
    val b1 = Map[String, Any]("key1" -> "val2", "key4" -> Seq("x", "y", "z"))
    assert(dataMerge(a1, b1) == a1 ++ b1)
    // nested dicts merge recursively, leaves overwritten
    val a2 = Map[String, Any]("key1" -> Map[String, Any](
      "key2" -> 456, "key3" -> Map[String, Any]("key4" -> 987, "key5" -> "xxxxx")))
    val b2 = Map[String, Any]("key1" -> Map[String, Any](
      "key3" -> Map[String, Any]("key4" -> 987, "key5" -> "overwritten")))
    assert(dataMerge(a2, b2) == Map("key1" -> Map(
      "key2" -> 456, "key3" -> Map("key4" -> 987, "key5" -> "overwritten"))))
    // lists: scalar appends, list extends
    assert(dataMerge(Map[String, Any]("key1" -> Seq(1, 2, 3)), Map[String, Any]("key1" -> 4))
      == Map("key1" -> Seq(1, 2, 3, 4)))
    assert(dataMerge(
      Map[String, Any]("key1" -> Seq(1, 2, 3)), Map[String, Any]("key1" -> Seq(4, 5, 6)))
      == Map("key1" -> Seq(1, 2, 3, 4, 5, 6)))
    // scalar b into dict a: MergeError
    intercept[MergeError] {
      dataMerge(Map[String, Any]("key1" -> Map[String, Any]("key2" -> 1)),
        Map[String, Any]("key1" -> 321))
    }
    // unsupported a type (the reference's tuple case): MergeError
    intercept[MergeError] { dataMerge((1, 2, 3), 1) }
    // null / scalar a is replaced by b
    assert(dataMerge(null, Seq(1)) == Seq(1))
    assert(dataMerge("old", "new") == "new")
  }

  test("missing files read as empty; defaults survive") {
    val dir = java.nio.file.Paths.get(tmpDir("graft_cfg"))
    val r = RouterConfig.routers(
      userPath = dir.resolve("absent"), projectPath = dir.resolve("also-absent"))
    assert(r == RouterConfig.Defaults)
  }

  test("OsrmRouter.forMode resolves via the registry and rejects bad modes") {
    // 'local' is in the built-in defaults → constructs; the canned transport
    // proves the base url came from the registry
    var captured: String = null
    val router = OsrmRouter.forMode("local", transport = url => {
      captured = url
      """{"code":"Ok","routes":[{"duration":1.0,"distance":2.0,
        |"geometry":"_ibE_seK_seK_seK","legs":[]}],
        |"waypoints":[{"distance":0.0},{"distance":0.0}]}""".stripMargin
    })
    router.route(0.1, 0.2, 0.3, 0.4)
    assert(captured != null && captured.startsWith("http://localhost:5000/"))
    intercept[IllegalArgumentException](OsrmRouter.forMode("not-a-router"))
  }

  test("resolve passes unknown names through; requireRouter validates") {
    val reg = Map("local" -> "http://localhost:5000")
    assert(RouterConfig.resolve("local", reg) == "http://localhost:5000")
    assert(RouterConfig.resolve("http://x:9/y", reg) == "http://x:9/y")
    assert(RouterConfig.requireRouter("https://r.example", reg) == "https://r.example")
    val e = intercept[IllegalArgumentException](RouterConfig.requireRouter("nope", reg))
    assert(e.getMessage.contains("routers section"))
  }
}
