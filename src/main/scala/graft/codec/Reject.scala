package graft.codec

/** The one rejection every decoder of untrusted bytes throws: `codec`
  * names the decoder (`pdf`, `tiff`, `png`, `warc.gz`, …), `kind` the
  * reason class a query reports (`malformed`, `encrypted`, `ccitt`,
  * `dictionary`, …) and `detail` the human-readable specifics. A
  * decoder either returns a value or throws this — never another
  * exception, never a hang — so an executor's per-row catch turns a
  * hostile document into a named row instead of a failed task.
  *
  * It stays an `IllegalArgumentException`: callers that only need
  * "the input was bad" keep catching that.
  */
final class Reject(val codec: String, val kind: String, val detail: String)
    extends IllegalArgumentException(s"$codec: $kind: $detail")

object Reject {

  /** `codec`'s thrower: `reject(kind, detail)`. */
  def in(codec: String): (String, String) => Nothing =
    (kind, detail) => throw new Reject(codec, kind, detail)

  /** `codec`'s thrower of the `malformed` kind: `fail(detail)`. */
  def malformed(codec: String): String => Nothing =
    detail => throw new Reject(codec, "malformed", detail)
}
