package graft.core

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.api.StandardQueries

/** [[Owner.using]] releases what its body owned, latest first, on normal
  * and thrown exit, runs every release even when one fails, and the
  * registry's per-thread owner scopes nest. */
class OwnerSpec extends AnyFunSuite {

  test("returns the body's value and releases in reverse order of registration") {
    val log = Seq.newBuilder[String]
    val got = Owner.using { o =>
      val a = o.own("a")(r => log += r)
      o.own("b")(r => log += r)
      o.own("c")(r => log += r)
      log += "body"
      a + "!"
    }
    assert(got === "a!")
    assert(log.result() === Seq("body", "c", "b", "a"))
  }

  test("a failing body still releases everything, and its exception wins") {
    val log = Seq.newBuilder[String]
    val e = intercept[IllegalStateException] {
      Owner.using { o =>
        o.own("a")(r => log += r)
        o.own("b")(_ => throw new RuntimeException("release b failed"))
        o.own("c")(r => log += r)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(log.result() === Seq("c", "a"))
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("release b failed"))
  }

  test("every release runs when releases fail: the first failure is thrown, the rest suppressed") {
    val log = Seq.newBuilder[String]
    val e = intercept[RuntimeException] {
      Owner.using { o =>
        o.own("a")(_ => throw new RuntimeException("release a failed"))
        o.own("b")(r => log += r)
        o.own("c")(_ => throw new RuntimeException("release c failed"))
        "done"
      }
    }
    assert(e.getMessage === "release c failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("release a failed"))
    assert(log.result() === Seq("b"))
  }

  /** A registry scratch path, created so its deletion can be seen. */
  private def made(prefix: String): File = {
    val dir = new File(StandardQueries.scratch(prefix))
    assert(dir.mkdirs())
    dir
  }

  test("registry scopes nest: an inner scope deletes its own scratch and restores the outer one") {
    val outside = made("owner_spec_outside_")
    try {
      val (outer, inner, afterInner) = StandardQueries.owned {
        val outer = made("owner_spec_outer_")
        val inner = StandardQueries.owned(made("owner_spec_inner_"))
        assert(!inner.exists())
        assert(outer.exists())
        // registered with the restored outer scope, not the closed inner one
        val afterInner = made("owner_spec_after_inner_")
        (outer, inner, afterInner)
      }
      assert(!outer.exists() && !inner.exists() && !afterInner.exists())
      assert(outside.exists(), "scratch outside a scope is left in place")
      // an inner scope left by an exception restores the outer one too
      var thrownIn: File = null
      val afterThrow = StandardQueries.owned {
        intercept[IllegalStateException] {
          StandardQueries.owned {
            thrownIn = made("owner_spec_thrown_")
            throw new IllegalStateException("query failed")
          }
        }
        assert(!thrownIn.exists())
        made("owner_spec_after_throw_")
      }
      assert(!afterThrow.exists())
    } finally outside.delete()
  }
}
