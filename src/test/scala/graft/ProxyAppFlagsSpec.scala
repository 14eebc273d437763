package graft

import org.scalatest.funsuite.AnyFunSuite

class ProxyAppFlagsSpec extends AnyFunSuite {
  import ProxyApp.{Flags, parseFlags}

  test("no flags gives the reference defaults") {
    assert(parseFlags(Nil) == Flags())
  }

  test("every flag parses into its field") {
    val f = parseFlags(Seq("--drop", "d", "--fwd", "http://ch:8123",
      "--dlq", "e", "--checkpoint", "c", "--syncsec", "3",
      "--resendint", "1", "--graphite", "127.0.0.1:2003",
      "--listen", "9000", "--edge", "fast"))
    assert(f == Flags("d", "http://ch:8123", "e", "c", 3, 1,
      Some("127.0.0.1" -> 2003), Some(9000), "fast"))
  }

  test("bad input fails naming the flag, never falls back") {
    val cases = Seq(
      Seq("--resendInt", "1") -> "--resendInt",
      Seq("--listen") -> "--listen",
      Seq("--listen", "--drop", "d") -> "--listen",
      Seq("--listen", "9000", "--edge", "fsat") -> "--edge",
      Seq("--edge", "fast") -> "--edge",
      Seq("--graphite", "host") -> "--graphite",
      Seq("--graphite", "host:x") -> "--graphite",
      Seq("--syncsec", "two") -> "--syncsec",
      Seq("--resendint", "0") -> "--resendint",
      Seq("--listen", "70000") -> "--listen",
      Seq("--drop", "a", "--drop", "b") -> "--drop",
      Seq("drop", "d") -> "'drop'")
    for ((args, named) <- cases) {
      val e = intercept[IllegalArgumentException](parseFlags(args))
      assert(e.getMessage.contains(named), s"$args: ${e.getMessage}")
    }
  }
}
