package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.api.ProfileStore

/** Interop against a REAL reference-layout SQLite store: the fixture
  * `fixtures/profile_store.db` was produced by the canonical sqlite3 C
  * library with the reference's exact schema
  * (`api/store/sqlite_store.py:41`: `CREATE TABLE profile_store(id
  * string, date datetime, profile blob)`) and `WHY1` profile blobs, at
  * `page_size=512` so the 42 KB blob spans a multi-page overflow chain —
  * the layout detail a naive reader corrupts first. Fixture contents:
  * two `model-a` rows (profile of 5 rows × columns k/s/x, one null in
  * s), one `model-b` row (profile of 100 rows × 31 columns), and one
  * `model-null` row with a NULL blob. */
class SqliteStoreSpec extends AnyFunSuite {

  private val db = getClass.getResource("/fixtures/profile_store.db").getPath

  test("raw table read returns every row, blobs intact across overflow chains") {
    val rows = Sqlite.readTable(db, "profile_store")
    assert(rows.size == 4)
    assert(rows.map(_("id")).toSet == Set("model-a", "model-b", "model-null"))
    val wide = rows.find(_("id") == "model-b").get
    assert(wide("profile").asInstanceOf[Array[Byte]].length == 42786)
    assert(rows.find(_("id") == "model-null").get("profile") == null)
    assert(rows.head("date").asInstanceOf[String].startsWith("2024-10-"))
  }

  test("readSqlite parses WHY1 blobs into profile views, skipping NULL blobs") {
    val views = ProfileStore.readSqlite(db)
    assert(views.size == 3) // model-null's NULL blob skipped
    val small = views.filter(_._1 == "model-a")
    assert(small.size == 2)
    val v = small.head._3
    assert(v.columns.keySet == Set("k", "s", "x"))
    assert(v.columns("k").counts.get.n == 5)
    assert(v.columns("s").counts.get.nulls == 1)
    val wide = views.find(_._1 == "model-b").get._3
    assert(wide.columns.size == 31)
    assert(wide.columns("w0").counts.get.n == 100)
    assert(wide.columns("w0").ints.get.max.contains(16L))
  }

  test("missing table and non-sqlite input are refused with clear errors") {
    val e = intercept[IllegalArgumentException](Sqlite.readTable(db, "nope"))
    assert(e.getMessage.contains("not found"))
    val tmp = java.nio.file.Files.createTempFile("notdb", ".db")
    try {
      java.nio.file.Files.write(tmp, Array.fill[Byte](200)(7))
      val e2 = intercept[IllegalArgumentException](
        Sqlite.readTable(tmp.toString, "profile_store"))
      assert(e2.getMessage.contains("not a SQLite 3 file"))
    } finally java.nio.file.Files.delete(tmp)
  }

  test("columnNames parses the reference store's CREATE TABLE") {
    assert(Sqlite.columnNames(
      "CREATE TABLE profile_store(id string, date datetime, profile blob)") ==
      Seq("id", "date", "profile"))
  }
}
