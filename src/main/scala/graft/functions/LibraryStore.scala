package graft.functions

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import org.apache.spark.sql.functions.expr

/** Durable library of named map functions — the reference's view/library
  * store (save `http_handlers.go:2031-2057`, get `:1977-1999`, delete
  * `:1839-1866`, all under the metakv path `/eventing/view/`,
  * `defs.go:22-23`) re-expressed as one JSON file per function in a
  * directory. Entries carry the same shape as the reference's
  * `jsonType{appname, appcode, description}` (`defs.go:124-128`), with
  * `appcode` generalized to Spark SQL key expressions + optional WHERE.
  *
  * Two-phase save, mirroring the reference's temp-vs-primary stores
  * (drafts live under `getTempViewHandler`/`getTempLibraryStoreAll`,
  * `http_handlers.go:1922-1999`; deploys go through
  * `savePrimaryStoreView`, `:2031-2057`): [[saveTemp]] writes a DRAFT
  * (validated but invisible to [[get]]/[[list]]/[[loadInto]] and
  * therefore to new index builds), and [[promote]] deploys it to the
  * primary store atomically. [[save]] remains the direct
  * save-to-primary path for programmatic callers.
  *
  * Consumption mirrors `servicemanager.GetCode(funcname)` at evaluator
  * construction (`Projector/indexjs.go:21`): [[LibraryStore.toMapFunction]]
  * compiles an entry into an [[ExprMapFunction]] for the build path.
  * Lambda functions (arbitrary Scala closures) are deliberately NOT
  * persistable — the JVM has no safe, stable closure serialization across
  * versions; declarative entries are the durable form.
  */
object LibraryStore {

  /** One library entry: `exprs` are Spark SQL expression strings evaluated
    * against the source document (the `SecExprs` analog).
    */
  final case class Entry(
      name: String,
      exprs: Seq[String],
      where: Option[String] = None,
      description: String = "")

  private implicit val formats: Formats = DefaultFormats

  /** Draft-store subdirectory — the temp-store analog. Its name is not a
    * legal function name, so drafts can never shadow a deployed entry.
    */
  private val DraftDir = "_draft"

  private def file(dir: String, name: String): Path = {
    require(name.matches("[A-Za-z0-9_.-]+"), s"illegal function name: $name")
    Paths.get(dir, s"$name.json")
  }

  /** Eager parse of every expression in the entry — the
    * compile-before-accept gate of the reference
    * (`http_handlers.go:1210-1223`). A parse failure is rethrown with the
    * offending expression and the parser's line/column so an editor can
    * place the marker (the reference forwards `compileInfo`'s
    * `line_number`/`column_number`, `eventing.js:984-996`).
    */
  private def validate(entry: Entry): Unit = {
    // functions.expr defers parsing to analysis; parse eagerly so a bad
    // expression is rejected at save time, not first use
    val parser = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    (entry.exprs.map((_, "key expression")) ++
      entry.where.map((_, "where clause"))).foreach { case (sql, what) =>
      try parser.parseExpression(sql)
      catch {
        case e: org.apache.spark.sql.catalyst.parser.ParseException =>
          val line = e.start.line.getOrElse(1)
          val col = e.start.startPosition.getOrElse(0)
          throw new IllegalArgumentException(
            s"function '${entry.name}': $what does not parse at " +
              s"line $line, column $col: $sql", e)
      }
    }
  }

  private def write(path: Path, entry: Entry): Unit = {
    Files.createDirectories(path.getParent)
    // atomic upsert (staged bytes + ATOMIC_MOVE): a reader never sees a
    // truncated entry — same publish discipline as the versioned stores
    VersionedSlots.publishReplace(path, Serialization.write(entry))
  }

  /** Version-history directory of the library at `dir`: every deploy
    * to the primary store ([[save]] or [[promote]]) also claims the
    * function's next immutable `<name>_v<N>.json` file slot in
    * `dir/_versions` ([[history]] — the tokenizer-artifact discipline
    * applied to library code). The live `<name>.json` stays the
    * what-new-builds-get surface; the history is what makes an index
    * built against `fn@v2` REPRODUCIBLE after a later promote rewrites
    * the live entry — the same pin-never-drifts property every other
    * artifact store in the engine has. The subdirectory carries no
    * `.json` suffix, so [[list]] never surfaces it and history can
    * never shadow a deployed entry.
    */
  def historyDir(dir: String): String = Paths.get(dir, "_versions").toString

  /** The deploy history of function `name`: one [[VersionedSlots.Files]]
    * per name under [[historyDir]]. Pins are positive-only — a
    * reproducible rebuild names the version it was built against.
    */
  def history(name: String): VersionedSlots.Files[Entry] =
    VersionedSlots.Files[Entry](name, s"function '$name'")

  private def recordVersion(dir: String, entry: Entry): Int =
    history(entry.name).save(historyDir(dir))(_ => entry)

  /** Save (upsert) an entry straight to the PRIMARY store; validates
    * expressions parse before storing (`savePrimaryStoreView`,
    * `http_handlers.go:2031-2057`). Returns the deploy's version number
    * in the function's immutable history.
    */
  def save(dir: String, entry: Entry): Int = {
    validate(entry)
    // resolve the live path FIRST — file() is also the illegal-name
    // gate, and it must fire before anything lands on disk
    val live = file(dir, entry.name)
    // then history, live entry LAST: a crash between the two steps
    // leaves an orphan history file (harmless — next deploy claims the
    // following slot), never a live deploy with no immutable version
    // behind it, which would silently break pin-never-drifts for that
    // deploy
    val v = recordVersion(dir, entry)
    write(live, entry)
    v
  }

  /** Save (upsert) a DRAFT: validated like [[save]] but invisible to
    * [[get]]/[[list]]/[[loadInto]] — an in-progress edit never becomes
    * live for new builds until [[promote]]d (temp store,
    * `http_handlers.go:1922-1999`).
    */
  def saveTemp(dir: String, entry: Entry): Unit = {
    validate(entry)
    write(file(Paths.get(dir, DraftDir).toString, entry.name), entry)
  }

  def getTemp(dir: String, name: String): Option[Entry] =
    get(Paths.get(dir, DraftDir).toString, name)

  def listTemp(dir: String): Seq[Entry] =
    list(Paths.get(dir, DraftDir).toString)

  def discardTemp(dir: String, name: String): Boolean =
    // drafts are invisible to builds, so the referential guard does not
    // apply — an in-use NAME may still have its draft discarded
    rawDelete(Paths.get(dir, DraftDir).toString, name)

  /** Deploy a draft to the primary store (atomic move; the draft entry
    * disappears from the temp store) and record it in the function's
    * immutable version history. Returns the deployed entry.
    */
  def promote(dir: String, name: String): Entry = {
    val draft = getTemp(dir, name).getOrElse(throw new NoSuchElementException(
      s"no draft named '$name' to promote"))
    Files.createDirectories(Paths.get(dir))
    // history FIRST (same ordering rationale as [[save]]): the live
    // deploy — the draft's atomic move into the primary store — is the
    // step that makes the entry visible, so it goes last
    recordVersion(dir, draft)
    Files.move(file(Paths.get(dir, DraftDir).toString, name), file(dir, name),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    draft
  }

  def get(dir: String, name: String): Option[Entry] = {
    val p = file(dir, name)
    if (Files.exists(p)) Some(Serialization.read[Entry](Files.readString(p)))
    else None
  }

  /** Delete a deployed entry — guarded referentially: if any REGISTERED
    * index still derives its keys from this function, the delete refuses
    * (listing the dependents) unless `force = true`. The reference leaves
    * this unchecked — `http_handlers.go:1842` carries an open to-do
    * ("delete view with no check that an index still uses it") and a
    * dangling reference only surfaces at the NEXT rebuild, late and
    * confusingly
    * (`IndexBuilder` throws "map function '<name>' is not registered").
    * Checking at delete time is the engine exceeding the reference.
    */
  def delete(dir: String, name: String, force: Boolean = false,
             catalog: FunctionCatalog = FunctionCatalog.global): Boolean =
    // the catalog monitor makes check+unlink atomic against concurrent
    // registerIndex (which synchronizes on the same object) — without it
    // an index registered between indexesUsing() and rawDelete() would
    // dangle (check-then-act race)
    catalog.synchronized {
      if (!force) {
        val users = catalog.indexesUsing(name)
        if (users.nonEmpty) throw new IllegalStateException(
          s"function '$name' is still referenced by registered index(es) " +
            s"${users.mkString("[", ", ", "]")}; drop the index(es) first " +
            "or delete with force=true")
      }
      rawDelete(dir, name)
    }

  private def rawDelete(dir: String, name: String): Boolean =
    Files.deleteIfExists(file(dir, name))

  def list(dir: String): Seq[Entry] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val stream = Files.list(d)
    try stream.iterator.asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(p => Serialization.read[Entry](Files.readString(p)))
      .toSeq.sortBy(_.name)
    finally stream.close()
  }

  /** Compile an entry for the build path (GetCode-at-evaluator-build analog). */
  def toMapFunction(e: Entry): ExprMapFunction =
    ExprMapFunction(e.name, e.exprs.map(expr), e.description)

  /** Load every persisted function into an in-memory catalog. */
  def loadInto(dir: String, catalog: FunctionCatalog): Int = {
    val entries = list(dir)
    entries.foreach(e => catalog.register(toMapFunction(e)))
    entries.size
  }

  /** Load ONE function at a PINNED version into the catalog — what a
    * reproducible rebuild registers: an index built against `fn@v2`
    * rebuilds from v2's expressions even after a later promote moved the
    * live entry on. Returns the compiled function.
    */
  def loadInto(dir: String, catalog: FunctionCatalog, name: String,
               version: Int): ExprMapFunction = {
    val entry = history(name).get(historyDir(dir), version).getOrElse(
      throw new NoSuchElementException(
        s"function '$name' has no deployed version $version under $dir"))
    val fn = toMapFunction(entry)
    catalog.register(fn)
    fn
  }
}
