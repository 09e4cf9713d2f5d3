package graft.core

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

import graft.api.StandardQueries

/** [[Owner.using]] releases what its body owned, latest first, on normal
  * and thrown exit, and runs every release even when one fails;
  * [[Owner.scope]]s nest per thread and release what [[Owner.adopt]]
  * registered on that thread only. */
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

  test("scopes nest: an inner scope deletes its own scratch, restores the outer one") {
    val outside = made("owner_spec_outside_")
    try {
      val (outer, inner, afterInner) = Owner.scope {
        val outer = made("owner_spec_outer_")
        val inner = Owner.scope(made("owner_spec_inner_"))
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
      val afterThrow = Owner.scope {
        intercept[IllegalStateException] {
          Owner.scope {
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

  test("adopt outside a scope, or on another thread, registers nothing") {
    val log = Seq.newBuilder[String]
    assert(Owner.adopt("outside")(r => log += r) === "outside")
    Owner.scope {
      // a stream's foreachBatch runs on its own thread, outside the caller's scope
      val other = new Thread(() => Owner.adopt("other thread")(r => log += r))
      other.start()
      other.join()
      Owner.adopt("inside")(r => log += r)
    }
    assert(log.result() === Seq("inside"))
  }

  test("an exception inside a nested using releases its own resources, not the ambient scope's") {
    val log = Seq.newBuilder[String]
    Owner.scope {
      Owner.adopt("ambient")(r => log += r)
      intercept[IllegalStateException] {
        Owner.using { o =>
          o.own("local")(r => log += r)
          // adopted inside the nested using: still the ambient scope's
          Owner.adopt("adopted in using")(r => log += r)
          throw new IllegalStateException("body failed")
        }
      }
      assert(log.result() === Seq("local"))
      log += "scope body done"
    }
    assert(log.result() === Seq("local", "scope body done", "adopted in using", "ambient"))
  }
}
