package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** FileTokenStore round-trip coverage, including the escape sequences
  * the reference's Binary tokens can contain (C4/C5 parity,
  * `committing/token_saver.py` / `change_stream_reading/resume_token.py`).
  */
class TokenStoreSpec extends AnyFunSuite {

  private def freshStore() =
    new FileTokenStore(
      Files.createTempDirectory("tokenstore").toString)

  private def roundTrip(token: String): String = {
    val store = freshStore()
    store.save(SavedToken("r1", token, new Timestamp(1720890531000L)))
    store.load("r1").get.token
  }

  test("plain hex token round-trips") {
    val t = ChangeEvents.tokenInsert
    assert(roundTrip(t) === t)
  }

  test("literal backslash+n round-trips (not collapsed to newline)") {
    // Chained .replace unescaping corrupted this: quote("\\n") = "\\\\n",
    // which a replace("\\\\","\\") pass then exposed to replace("\\n","\n").
    val t = "abc\\ndef"
    assert(roundTrip(t) === t)
  }

  test("real newline, quote, and trailing backslash round-trip") {
    for (t <- Seq("line1\nline2", "say \"hi\"", "back\\slash", "end\\",
        "\\\\", "\\\"", "\\n\\n")) {
      assert(roundTrip(t) === t, s"token <$t>")
    }
  }

  test("upsert semantics: second save replaces the first") {
    val store = freshStore()
    store.save(SavedToken("r1", "t1", new Timestamp(1L)))
    store.save(SavedToken("r1", "t2", new Timestamp(2L)))
    assert(store.load("r1").get.token === "t2")
    assert(store.load("r1").get.date.getTime === 2L)
  }

  test("missing reader name loads None") {
    assert(freshStore().load("nope").isEmpty)
  }

  test("control characters round-trip and the file stays strict JSON") {
    val dir = Files.createTempDirectory("tokenstore").toString
    val store = new FileTokenStore(dir)
    val t = "tab\there\rcr\u0001soh"
    store.save(SavedToken("r1", t, new Timestamp(1L)))
    assert(store.load("r1").get.token === t)
    val bytes = Files.readAllBytes(Paths.get(dir, "r1.json"))
    assert(!bytes.exists(b => b >= 0 && b < 0x20), "raw control byte")
    // the default mapper rejects unescaped control characters
    assert(new ObjectMapper().readTree(bytes).get("token").textValue === t)
  }

  test("a plain token's file is one compact JSON object") {
    val dir = Files.createTempDirectory("tokenstore").toString
    new FileTokenStore(dir).save(SavedToken("r1", "[42]", new Timestamp(7L)))
    assert(new String(Files.readAllBytes(Paths.get(dir, "r1.json")), UTF_8) ===
      """{"streamReaderName":"r1","token":"[42]","date":7}""")
  }

  test("a file that is not the written shape loads None, not a throw") {
    val dir = Files.createTempDirectory("tokenstore").toString
    val store = new FileTokenStore(dir)
    for (body <- Seq("", "not json", "{", "[1,2]", """{"token":"t"}""",
        """{"date":7}""", """{"token":42,"date":7}""",
        """{"token":"t","date":"7"}""", """{"token":"t","date":7.5}""")) {
      Files.write(Paths.get(dir, "r1.json"), body.getBytes(UTF_8))
      assert(store.load("r1").isEmpty, s"body <$body>")
    }
  }
}
