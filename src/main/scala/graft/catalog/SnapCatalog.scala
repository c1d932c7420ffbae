package graft.catalog

import graft.sources.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.Collections
import scala.jdk.CollectionConverters._

/** DataSourceV2 `TableCatalog` over the [[Snapshots]] commit store —
  * the surface that lets a user type plain SQL against versioned
  * tables and have SPARK'S OWN analyzer execute it, with no
  * parsed-tree interception:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.snap", classOf[GraftCatalog].getName)
  *   spark.sql("CREATE TABLE snap.default.t AS SELECT ...")
  *   spark.sql("INSERT INTO snap.default.t SELECT ...")
  *   spark.sql("UPDATE snap.default.t SET ...")         // copy-on-write
  *   spark.sql("DELETE FROM snap.default.t WHERE ...")  //   or merge-on-read
  *   spark.sql("MERGE INTO snap.default.t USING s ON ...")
  *   spark.sql("SELECT * FROM snap.default.t VERSION AS OF 3")
  *   spark.sql("SELECT * FROM snap.default.t TIMESTAMP AS OF '...'")
  * }}}
  *
  * Layout: one snapshot root per table at `<warehouse>/<ns>/<name>`;
  * everything inside the root is [[Snapshots]]' versioned-manifest
  * protocol unchanged, so catalog tables and direct-API tables are the
  * same on-disk thing (a table built with `Snapshots.commit` can be
  * read through the catalog and vice versa — the fixtures do both).
  * The declared schema and table properties live in
  * `<root>/_table.properties`, written at CREATE — or, for a table
  * never CREATEd (direct-API root), by its first commit
  * ([[GraftTable.admit]]).
  *
  * The warehouse path is read LIVE from the session conf
  * (`spark.sql.catalog.<name>.warehouse`) with the initialize-time
  * options as fallback — catalog instances are cached per session, and
  * a pinned warehouse would freeze the first value forever.
  *
  * Time travel binds to Spark's native resolution:
  * `loadTable(ident, version)` serves `VERSION AS OF` (numeric version
  * or named tag — Spark hands the literal through as a string) and
  * `loadTable(ident, micros)` serves `TIMESTAMP AS OF` (Spark converts
  * the literal to epoch micros in the session zone); both return a
  * [[GraftTable]] pinned to the resolved snapshot, so arbitrary SQL
  * over mixed versions plans like any other multi-table query.
  *
  * Scale: every catalog call is metadata-only — a manifest read, a
  * properties file, a directory listing of `_commits`. Nothing here
  * touches data; scans and writes are planned by [[GraftTable]].
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
  with FunctionCatalog
  with ProcedureCatalog {

  /** SQL-first maintenance: `CALL <cat>.system.compact('default.t')`,
    * `compact_deletes`, `vacuum` — see [[SnapProcedures]]. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    SnapProcedures.load(this, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    // procedures live only under `system` — listing them elsewhere
    // would advertise identifiers loadProcedure then refuses
    if (namespace.isEmpty || namespace.sameElements(SnapProcedures.Namespace))
      SnapProcedures.list()
    else Array.empty

  private var catName: String = "snap"
  private var initOptions: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    initOptions = options
  }

  override def name(): String = catName

  /** Live warehouse resolution (see class doc). The default is a
    * pid-scoped tmp dir so concurrent JVMs (Bench and Verify in
    * parallel) never share table roots. */
  private def warehouse: String = {
    val key = s"spark.sql.catalog.$catName.warehouse"
    val live = try Option(SparkSession.active.conf.get(key, null)) catch { case _: Exception => None }
    live.filter(_ != null).filter(_.nonEmpty)
      .orElse(Option(initOptions.get("warehouse")))
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft_snapcat_${ProcessHandle.current().pid()}")
  }

  private def rootOf(ident: Identifier): String = {
    // shared guard — see GraftCatalog.isPathSafePart for why every
    // warehouse path join must validate (destructive callers).
    GraftCatalog.requirePathSafe(
      ident.namespace().toSeq :+ ident.name(), "table identifier")
    (warehouse +: ident.namespace().toSeq :+ ident.name()).mkString("/")
  }

  /** The on-disk snapshot root of a catalog table — the bridge for
    * code (fixtures, maintenance ops) that drives the same table
    * through the direct [[Snapshots]] API. */
  def tableRoot(ident: Identifier): String = rootOf(ident)

  private def exists(root: String): Boolean =
    Files.isDirectory(Paths.get(root, "_commits")) ||
      Files.exists(Paths.get(root, GraftTable.metaFile))

  override def tableExists(ident: Identifier): Boolean = exists(rootOf(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    // same guard as rootOf: an unsafe part (e.g. backtick-quoted `..`)
    // must not probe or list directories outside the warehouse.
    if (!namespace.forall(GraftCatalog.isPathSafePart))
      throw new NoSuchNamespaceException(namespace)
    val nsDir = Paths.get((warehouse +: namespace.toSeq).mkString("/"))
    if (!Files.isDirectory(nsDir)) throw new NoSuchNamespaceException(namespace)
    val ls = Files.list(nsDir)
    try ls.iterator().asScala
      .filter(p => exists(p.toString))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally ls.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (!exists(root)) {
      // `snap.default.t.history` parses as namespace [default, t] +
      // name `history` — route the reserved suffixes to the table's
      // metadata tables (Iceberg's pattern) when the parent exists
      if (ident.namespace().length >= 2 && SnapMetaTables.names(ident.name())) {
        val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
        val proot = rootOf(parent)
        if (exists(proot))
          // `<t>.changes` is the STREAMING change feed (insert/delete
          // row effects, position deletes included); the rest are the
          // batch metadata tables
          return if (ident.name() == SnapChanges.kind)
            SnapChanges.table(ident.toString, proot)
          else SnapMetaTables(ident.toString, proot, ident.name())
      }
      // `<t>.branch_<name>` — Iceberg's branch suffix table: read the
      // branch head, INSERT INTO appends to the branch (the SQL write
      // surface of branch-based WAP)
      if (ident.namespace().length >= 2 && ident.name().startsWith("branch_")) {
        val parent = Identifier.of(ident.namespace().init, ident.namespace().last)
        val proot = rootOf(parent)
        val bname = ident.name().stripPrefix("branch_")
        if (exists(proot) && Snapshots.branchFork(proot, bname).isDefined)
          return new GraftBranchTable(ident.toString, proot, bname)
      }
      throw new NoSuchTableException(ident)
    }
    new GraftTable(ident.toString, root, pinned = None)
  }

  /** `VERSION AS OF <v>`: a digit string is a version number, anything
    * else is a named ref — a tag first ([[Snapshots.tag]]), else a
    * BRANCH (its current head — the SQL audit surface of branch-based
    * WAP: `SELECT … FROM t VERSION AS OF 'audit'` reads the
    * prospective serving state). All-digit ref names are rejected at
    * creation precisely so this dispatch is total. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    val snap =
      if (version.nonEmpty && version.forall(_.isDigit))
        Snapshots.resolveAt(root, version.toLong)
      else Snapshots.tagVersion(root, version) match {
        case Some(v) => Snapshots.resolveAt(root, v)
        case None if Snapshots.branchFork(root, version).isDefined =>
          Snapshots.resolveBranch(root, version)
        case None => throw new IllegalArgumentException(
          s"no tag or branch '$version' on ${ident.toString}")
      }
    new GraftTable(ident.toString, root, pinned = Some(snap))
  }

  /** `TIMESTAMP AS OF <ts>`: Spark hands epoch MICROS in the session
    * zone; resolution is Delta's rule — newest commit at or before the
    * literal ([[Snapshots.versionAtTimestamp]]). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    val v = Snapshots.versionAtTimestamp(root, timestamp)
    new GraftTable(ident.toString, root, pinned = Some(Snapshots.resolveAt(root, v)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: java.util.Map[String, String]): Table = {
    // identity columns (Hive-style col=value directories), ONE
    // bucket(n, col) transform (hash layout under a synthetic
    // _gbucket=<id> segment — the storage-partitioned-join shape for
    // high-NDV keys), or ONE time/truncate transform (ordinal layout
    // under a synthetic _gtpart=<ordinal> segment, [[SnapTransform]] —
    // the event-table shape, range-prunable because the transforms are
    // monotone; composes with identity columns)
    var bucket: Option[(String, Int)] = None
    var transform: Option[SnapTransform.Spec] = None
    def oneTransform(t: Transform): SnapTransform.Spec = {
      require(transform.isEmpty, "at most one time/truncate transform")
      val refs = t.references()
      require(refs.length == 1 && refs(0).fieldNames().length == 1,
        s"${t.name()} needs exactly one top-level column, got: $t")
      val c = refs(0).fieldNames()(0)
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no column '$c' to transform"))
      val width: Long = t.arguments().collectFirst {
        case lit: org.apache.spark.sql.connector.expressions.Literal[_]
          if lit.dataType() == IntegerType =>
          lit.value().asInstanceOf[Int].toLong
      }.getOrElse(0L)
      if (t.name() == "truncate")
        require(width >= 1 && width <= Int.MaxValue,
          s"truncate needs an INT width >= 1, got: $t")
      val spec = SnapTransform.Spec(t.name(), c, width)
      require(SnapTransform.supported(spec.kind, f.dataType),
        s"${t.name()} does not apply to column '$c' of type " +
          s"${f.dataType.simpleString} (years/months/days take " +
          "timestamp/date, hours takes timestamp, truncate takes " +
          "int/bigint/string)")
      spec
    }
    val partCols = partitions.toSeq.flatMap {
      case t if t.name() == "identity" && t.references().length == 1 =>
        val fieldNames = t.references()(0).fieldNames()
        require(fieldNames.length == 1,
          s"only top-level partition columns: ${fieldNames.mkString(".")}")
        val c = fieldNames(0)
        require(schema.fieldNames.contains(c), s"no column '$c' to partition by")
        Some(c)
      case t if t.name() == "bucket" =>
        require(bucket.isEmpty, "at most one bucket(n, col) transform")
        val refs = t.references()
        require(refs.length == 1 && refs(0).fieldNames().length == 1,
          s"bucket needs exactly one top-level column, got: $t")
        val c = refs(0).fieldNames()(0)
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(s"no column '$c' to bucket by"))
        require(SnapBucket.supported(f.dataType),
          s"bucket column '$c' has type ${f.dataType.simpleString}; " +
            "only int/long/string keys can bucket")
        val n = t.arguments().collectFirst {
          case lit: org.apache.spark.sql.connector.expressions.Literal[_]
            if lit.dataType() == IntegerType => lit.value().asInstanceOf[Int]
        }.getOrElse(throw new IllegalArgumentException(
          s"bucket needs an INT bucket count, got: $t"))
        require(n >= 1 && n <= (1 << 20), s"bucket count out of range: $n")
        bucket = Some(c -> n)
        None
      case t if SnapTransform.kinds(t.name()) =>
        transform = Some(oneTransform(t))
        None
      case other => throw new UnsupportedOperationException(
        s"only identity, bucket(n, col), years/months/days/hours(col) " +
          s"and truncate(w, col) PARTITIONED BY transforms are " +
          s"supported, got: $other")
    }
    require(bucket.isEmpty || partCols.isEmpty,
      "bucket(n, col) does not compose with identity PARTITIONED BY " +
        "columns yet — pick one layout")
    require(bucket.isEmpty || transform.isEmpty,
      "bucket(n, col) does not compose with time/truncate transforms — " +
        "pick one derived layout")
    require(!transform.exists(t => partCols.contains(t.col)),
      "a column cannot be both an identity partition column and a " +
        "transform source (identity strips it from the data files; the " +
        "transform needs it there)")
    require(!schema.fieldNames.contains(Snapshots.bucketPathCol),
      s"'${Snapshots.bucketPathCol}' is a reserved column name (the " +
        "synthetic bucket-layout path segment)")
    require(!schema.fieldNames.contains(Snapshots.transformPathCol),
      s"'${Snapshots.transformPathCol}' is a reserved column name (the " +
        "synthetic transform-layout path segment)")
    // identity PARTITIONED BY still excludes merge-on-read: identity
    // columns live ONLY in file paths, a layout the MOR paths do not
    // serve. DERIVED layouts (bucket/transform) DO
    // compose with KEYED MOR (r20): the delta writer stages insert
    // halves under the synthetic segment and the source column stays a
    // data column, so flat MOR reads are value-exact (segment pruning
    // and SPJ resume once a rewrite absorbs the pending deletes).
    // Positional MOR stays layout-exclusive (its row-id scans are
    // flat-file machinery).
    require(partCols.isEmpty ||
      (!properties.asScala.contains(GraftTable.morKeyProp) &&
        !properties.asScala.get(GraftTable.posMorProp).contains("true")),
      "identity PARTITIONED BY does not compose with merge-on-read " +
        "(graft.mor.key / graft.mor.positional): identity partition " +
        "columns live only in file paths — use a bucket/transform " +
        "layout with graft.mor.key, or pick one")
    require((bucket.isEmpty && transform.isEmpty) ||
      !properties.asScala.get(GraftTable.posMorProp).contains("true"),
      "graft.mor.positional does not compose with bucket/transform " +
        "layouts yet — use graft.mor.key on a layout table")
    require(!properties.asScala.contains(GraftTable.morKeyProp) ||
      !properties.asScala.get(GraftTable.posMorProp).contains("true"),
      "graft.mor.key and graft.mor.positional are mutually exclusive — " +
        "a table deletes by key OR by position, not both")
    require(partCols.size == partCols.distinct.size,
      s"duplicate partition columns: ${partCols.mkString(",")}")
    // path-renderable types only: partition values round-trip through
    // col=value path segments (write render ↔ scan parse)
    partCols.foreach { c =>
      import org.apache.spark.sql.types._
      val dt = schema(c).dataType
      require(dt match {
        case StringType | IntegerType | LongType | ShortType | ByteType |
             DateType | BooleanType => true
        case _ => false
      }, s"partition column '$c' has type ${dt.simpleString}; only " +
        "string/integral/date/boolean columns can partition (values are " +
        "rendered into file paths)")
    }
    // single-level namespaces only (matching createNamespace): a deeper
    // identifier like `default.t.history` would nest a table root
    // INSIDE t's snapshot root — shadowing the reserved metadata-table
    // route in loadTable, and putting its data in the path of t's
    // vacuum sweep
    require(ident.namespace().length == 1,
      s"only single-level namespaces: ${ident.namespace().mkString(".")}." +
        s"${ident.name()} would nest inside another table's root")
    require(!SnapMetaTables.names(ident.name()),
      s"'${ident.name()}' is a reserved metadata-table name " +
        s"(${SnapMetaTables.names.mkString(", ")})")
    require(!Option(properties.get("graft.bloom.cols")).exists(_.contains(':')),
      "graft.bloom.cols entries must not contain ':' (the bloom " +
        "manifest-line delimiter)")
    val root = rootOf(ident)
    if (exists(root)) throw new TableAlreadyExistsException(ident)
    Files.createDirectories(Paths.get(root))
    val props = properties.asScala.toMap ++
      (if (partCols.isEmpty) Map.empty
       else Map(GraftTable.partColsProp -> partCols.mkString(","))) ++
      bucket.map { case (c, n) => SnapBucket.prop -> SnapBucket.render(c, n) } ++
      // stamp the bucket-hash discipline at CREATE ([[SnapBucket
      // .hashVerProp]]): int keys hash AS LONGS since r19, which
      // re-keys every int-keyed directory committed under the earlier
      // int-hash rule — the stamp is what lets a reader REFUSE a
      // legacy table instead of silently pruning into the wrong dirs
      bucket.map(_ => SnapBucket.hashVerProp -> SnapBucket.hashVer) ++
      transform.map(t => SnapTransform.prop -> t.render)
    GraftTable.writeMeta(root, schema, props)
    new GraftTable(ident.toString, root, pinned = None)
  }

  /** `ALTER TABLE ADD / RENAME / DROP COLUMN` + SET/UNSET
    * TBLPROPERTIES — native schema evolution, all METADATA-ONLY (one
    * properties-file rewrite; history is never touched):
    *
    *  - ADD (Delta/Iceberg contract): reads resolve pre-evolution
    *    files by name, surfacing the added column as NULL.
    *  - RENAME: the declared field changes name and the OLD name is
    *    recorded as a prior physical name
    *    (`graft.col.prior.<current>`, oldest→newest). Head reads
    *    resolve the column across eras by coalescing the current name
    *    with its priors ([[RenameAwareScanBuilder]]) — exact because a
    *    name can only mean one column: targets colliding with any
    *    live, prior, or dropped name are rejected, so no file ever
    *    carries two spellings of the column or a stale column under a
    *    reused name. The Iceberg equivalent is field-id indirection;
    *    the prior-name ledger is the same information keyed by
    *    name-history instead of ids, which parquet written without
    *    field ids can actually resolve.
    *  - DROP: the field leaves the declared schema and its name (plus
    *    its whole prior-name history) enters the tombstone ledger
    *    (`graft.cols.dropped`) — file data stays, unreferenced, and
    *    the ledger stops a later ADD/RENAME from resurrecting it.
    *
    * A time-travel read of a pre-evolution version presents exactly
    * the schema (and names) its files carried ([[GraftTable.schema]]
    * infers pinned schemas from that version's footers) and never
    * applies the prior-name map. Non-key renames compose with
    * merge-on-read (the MOR scan coalesces prior spellings before its
    * delete filter); only the MOR key column and pending-delete key
    * columns must keep their physical names — the delete-key ledger is
    * keyed by them. A full copy-on-write rewrite clears the
    * prior/tombstone ledgers (every surviving row re-materializes
    * under current names), restoring the plain pushdown scan.
    *
    *  - ALTER COLUMN TYPE: safe WIDENINGS only (int→bigint,
    *    float→double, decimal precision growth — Iceberg's promotion
    *    matrix), metadata-only: the declared field widens and reads
    *    upcast narrow files natively; anything lossy is rejected with
    *    a compact-first message. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    // the bucket-hash stamp records how committed `_gbucket` dirs were
    // hashed; stamping or clearing it by hand makes pruning misread them
    val bucketHashFixed = s"${SnapBucket.hashVerProp} is stamped at CREATE " +
      "TABLE and names the hash the committed bucket directories were " +
      "written under; it cannot be set or unset"
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    // the whole read→fold→write cycle holds the per-root meta lock:
    // two concurrent ALTERs (or an ALTER racing the post-rewrite
    // ledger clear) must serialize, or the loser's readMeta-to-
    // writeMeta window silently clobbers the winner's change
    GraftTable.withMetaLock(root) {
    val (schema, props) = GraftTable.declaredMeta(root)
    // every physical name that has ever meant something in this table:
    // adding or renaming onto one would make old files' bytes resurface
    // under the wrong meaning
    def usedNames(pr: Map[String, String], sc: StructType): Set[String] =
      (sc.fieldNames.toSeq ++
        GraftTable.priorsOf(pr).flatMap { case (c, ps) => c +: ps } ++
        GraftTable.droppedOf(pr) ++
        GraftTable.physOf(pr).values).map(_.toLowerCase).toSet
    def requireFresh(pr: Map[String, String], sc: StructType, name: String,
        what: String): Unit =
      require(!usedNames(pr, sc).contains(name.toLowerCase),
        s"$what '$name' collides with a live, renamed-away, or dropped " +
          "column name of this table; reusing it would resurface stale " +
          "file data under the new meaning")
    // `#del` lines keep their commit-time spelling; rename, widening,
    // AND drop all compose with pending deletes via the scan-side
    // ledger indirection (priors / dropchain / droptype) — no DDL
    // shape needs the pending-key set anymore.
    val (newSchema, newProps) = changes.foldLeft((schema, props)) {
      // NESTED ADD (r19): `ADD COLUMN s.f TYPE` (any struct depth —
      // `s.a.b.f` walks nested structs) appends a nullable field —
      // metadata-only, like every other evolution here: pre-evolution
      // files lack the field in their footers and Spark's by-name
      // parquet resolution surfaces it as NULL; a pinned time-travel
      // read presents the era's own struct shape (footer-inferred),
      // and a pinned read STRADDLING the evolution merges the shapes
      // under the struct-aware widening matrix ([[GraftTable.widensTo]]
      // — field union, added fields nullable, recursive). The
      // FHIR-shaped schema's first evolution.
      case ((sc, pr), add: TableChange.AddColumn) if add.fieldNames().length >= 2 =>
        val path = add.fieldNames().toSeq
        val parent = path.head
        val dotted = path.mkString(".")
        require(sc.fieldNames.contains(parent), s"no column '$parent' to add into")
        require(add.isNullable,
          s"added field $dotted must be nullable (pre-evolution rows " +
            "surface NULL)")
        require(!GraftTable.physOf(pr).contains(parent),
          s"'$parent' is a re-added (physically remapped) column; evolve it " +
            "after a rewrite re-materializes the table under current names")
        // walk the struct path and append the leaf at the end
        def addAt(dt: org.apache.spark.sql.types.DataType,
            rest: Seq[String]): org.apache.spark.sql.types.StructType = {
          val st = dt match {
            case s: org.apache.spark.sql.types.StructType => s
            case other => throw new IllegalArgumentException(
              s"ADD COLUMN $dotted needs a struct at each step, got " +
                s"${other.simpleString}")
          }
          rest match {
            case Seq(leaf) =>
              require(!st.fieldNames.map(_.toLowerCase).contains(leaf.toLowerCase),
                s"field '$leaf' already exists in struct (path $dotted)")
              st.add(org.apache.spark.sql.types.StructField(
                leaf, add.dataType(), nullable = true))
            case inner +: deeper =>
              val f = st.fields.find(_.name == inner).getOrElse(
                throw new IllegalArgumentException(
                  s"no field '$inner' on the path $dotted"))
              StructType(st.fields.map(g =>
                if (g.name == inner) g.copy(dataType = addAt(g.dataType, deeper))
                else g))
          }
        }
        val newSt = addAt(sc(parent).dataType, path.tail)
        (StructType(sc.fields.map(f =>
          if (f.name == parent) f.copy(dataType = newSt) else f)), pr)
      case ((sc, pr), add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          s"only top-level and one-level-struct ADD COLUMN are supported: " +
            s"${add.fieldNames().mkString(".")}")
        val name = add.fieldNames()(0)
        require(name != Snapshots.bucketPathCol &&
          name != Snapshots.transformPathCol,
          s"'$name' is a reserved column name (synthetic layout segment)")
        require(add.isNullable,
          s"added column $name must be nullable (pre-evolution rows surface NULL)")
        require(!sc.fieldNames.map(_.toLowerCase).contains(name.toLowerCase),
          s"column '$name' already exists")
        val collides = usedNames(pr, sc).contains(name.toLowerCase)
        if (!collides)
          (sc.add(org.apache.spark.sql.types.StructField(name, add.dataType(),
            nullable = true)), pr)
        else {
          // SPELLING RE-USE (r18, the field-id move): the name was
          // renamed away or dropped, so old files carry DEAD bytes
          // under it — the re-added column gets a fresh PHYSICAL
          // spelling (graft.col.phys ledger): writes stage its data
          // under the physical name, reads coalesce the physical
          // spelling ONLY, and the dead bytes can never resurface
          // under the new meaning. Refused only while pending
          // merge-on-read deletes still resolve a key spelling to this
          // name (the shadow-field machinery would bind the NEW
          // column's type/physical slot to the OLD key) — compact the
          // deletes (rewrite) first.
          // a name equal to a LIVE column's physical spelling is not a
          // tombstone — its bytes are another column's current data
          require(!GraftTable.physOf(pr).values
            .exists(_.equalsIgnoreCase(name)),
            s"'$name' is the physical file spelling of a live re-added " +
              "column; pick another name")
          val dropChains = GraftTable.droppedChainsOf(pr)
          val toCurrent: Map[String, String] =
            (GraftTable.priorsOf(pr) ++ dropChains)
              .flatMap { case (cur, ps) => ps.map(_ -> cur) }
          val pendingKeySpellings = Snapshots.resolve(root).toSeq
            .flatMap(_.deletes).flatMap(_.keyCols)
          val conflicted = pendingKeySpellings.exists(spelling =>
            spelling.equalsIgnoreCase(name) ||
              toCurrent.get(spelling).exists(_.equalsIgnoreCase(name)))
          require(!conflicted,
            s"re-adding '$name' while pending merge-on-read deletes still " +
              "key on the dropped column of that name would cross the two " +
              "meanings — run compact (a rewrite absorbs the deletes) first")
          // fresh physical spelling: <name>__r<k>, k past every spelling
          // this table has ever used (live, renamed-away, dropped, or
          // already-minted physical)
          val taken = usedNames(pr, sc) ++
            GraftTable.physOf(pr).values.map(_.toLowerCase)
          val phys = Iterator.from(2).map(k => s"${name}__r$k")
            .find(p => !taken.contains(p.toLowerCase)).get
          (sc.add(org.apache.spark.sql.types.StructField(name, add.dataType(),
            nullable = true)),
            pr + (s"${GraftTable.colPhysPrefix}$name" -> phys))
        }
      case ((sc, pr), ren: TableChange.RenameColumn) =>
        require(ren.fieldNames().length == 1,
          s"only top-level RENAME COLUMN is supported: ${ren.fieldNames().mkString(".")}")
        val from = ren.fieldNames()(0)
        val to = ren.newName()
        require(sc.fieldNames.contains(from), s"no column '$from' to rename")
        require(!GraftTable.physOf(pr).contains(from),
          s"'$from' is a re-added (physically remapped) column; renaming " +
            "it needs a rewrite that re-materializes the table under " +
            "current names first")
        require(!GraftTable.partColsOf(pr).contains(from),
          s"cannot rename partition column '$from' (its values live in " +
            "committed file paths)")
        require(to != Snapshots.bucketPathCol &&
          to != Snapshots.transformPathCol,
          s"'$to' is a reserved column name (synthetic layout segment)")
        requireFresh(pr, sc, to, "rename target")
        val priorKey = s"${GraftTable.colPriorPrefix}$from"
        val history = pr.get(priorKey).map(_ + ",").getOrElse("") + from
        // renaming composes with merge-on-read EVEN ON KEY COLUMNS:
        // pending `#del` lines keep the spelling of their commit time
        // and the scan resolves it through this rename ledger (the
        // name-history equivalent of Iceberg's field-id indirection —
        // sound because requireFresh forbids spelling reuse). The
        // graft.mor.key property follows the rename so later DELETEs
        // stage under the new spelling.
        // layout specs FOLLOW the rename (r18 — the bucket/transform
        // freeze lifted): the committed layout is keyed by the
        // column's VALUES (murmur3 hashes / monotone ordinals), which
        // a rename never touches — old files' bytes under the prior
        // spelling coalesce through the rename ledger like any other
        // data column, new writes derive the identical segment from
        // the new name, and planning-time pruning binds pushed
        // predicates by the CURRENT name. Only re-TYPING stays frozen
        // (the hash/ordinal of an int and a long differ). The bloom
        // column list follows too, so sketches keep being written
        // under the new spelling.
        def followMorKey(m: Map[String, String]) =
          if (m.get(GraftTable.morKeyProp).contains(from))
            m + (GraftTable.morKeyProp -> to) else m
        def followBucket(m: Map[String, String]) =
          SnapBucket.of(m).filter(_._1 == from).fold(m) { case (_, n) =>
            m + (SnapBucket.prop -> SnapBucket.render(to, n)) }
        def followTransform(m: Map[String, String]) =
          SnapTransform.of(m).filter(_.col == from).fold(m)(t =>
            m + (SnapTransform.prop -> t.copy(col = to).render))
        // RETIRED layouts follow renames too: their committed
        // directories still prune on the (renamed) source column
        def followRetired(m: Map[String, String]) = {
          val m2 = SnapBucket.ofRetired(m).filter(_._1 == from).fold(m) {
            case (_, n) =>
              m + (SnapBucket.retiredProp -> SnapBucket.render(to, n)) }
          SnapTransform.ofRetired(m2).filter(_.col == from).fold(m2)(t =>
            m2 + (SnapTransform.retiredProp -> t.copy(col = to).render))
        }
        def followBloom(m: Map[String, String]) =
          m.get("graft.bloom.cols")
            .filter(_.split(',').map(_.trim).contains(from)).fold(m)(v =>
              m + ("graft.bloom.cols" -> v.split(',').map(_.trim)
                .map(c => if (c == from) to else c).mkString(",")))
        val pr2 = followBloom(followRetired(followTransform(followBucket(followMorKey(
          pr - priorKey + (s"${GraftTable.colPriorPrefix}$to" -> history))))))
        (StructType(sc.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)), pr2)
      case ((sc, pr), del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          s"only top-level DROP COLUMN is supported: ${del.fieldNames().mkString(".")}")
        val name = del.fieldNames()(0)
        if (!sc.fieldNames.contains(name)) {
          require(del.ifExists(), s"no column '$name' to drop")
          (sc, pr)
        } else {
          require(sc.fields.length > 1, "cannot drop the last column")
          // a RE-ADDED (physically remapped) column may be dropped —
          // its chain records the PHYSICAL spelling — but only once a
          // rewrite has cleared the FIRST drop's ledger slots for this
          // name (both drops would otherwise contend for
          // dropchain/droptype.<name>, which pinned time-travel reads
          // of the first column still resolve through)
          require(!GraftTable.physOf(pr).contains(name) ||
            (!pr.contains(s"${GraftTable.droppedChainPrefix}$name") &&
              !pr.contains(s"${GraftTable.dropTypePrefix}$name")),
            s"'$name' was re-added over a dropped name whose ledger is " +
              "still live; run compact (a rewrite clears it) before " +
              "dropping the re-added column")
          require(!GraftTable.partColsOf(pr).contains(name),
            s"cannot drop partition column '$name'")
          require(!SnapBucket.of(pr).exists(_._1 == name),
            s"cannot drop bucket column '$name' (the committed layout is " +
              "keyed by its hash)")
          require(!SnapTransform.of(pr).exists(_.col == name),
            s"cannot drop transform source column '$name' (the committed " +
              "layout's ordinals derive from it)")
          val priorKey = s"${GraftTable.colPriorPrefix}$name"
          val physSpelling = GraftTable.physOf(pr).get(name)
          val tombs = GraftTable.droppedOf(pr).toSeq ++
            pr.get(priorKey).toSeq.flatMap(_.split(',')) ++
            physSpelling.toSeq :+ name
          // a renamed-then-dropped column keeps its chain STRUCTURE
          // (dropchain key) beside the flat tombstone list: pinned
          // time-travel reads straddling the rename still need to
          // coalesce its spellings ([[GraftTable.pinnedResolution]]),
          // and the MOR scan resolves delete files staged under a
          // prior spelling through it. The drop-time TYPE is recorded
          // too (droptype ledger): a column keying PENDING
          // merge-on-read delete files may be dropped freely — the
          // MOR scan keeps reading it as a hidden filter-only shadow
          // field at that declared width until a rewrite absorbs the
          // deletes (the field-id-style indirection, keyed by
          // name-history since spellings are never reused).
          // a remapped column's FILE spelling is its physical name —
          // record it as the drop chain so pinned/MOR resolution keeps
          // mapping file bytes to this final name
          val chainOpt = pr.get(priorKey).orElse(physSpelling)
          val pr2 = chainOpt.foldLeft(
            pr - priorKey - s"${GraftTable.colPhysPrefix}$name" +
              (GraftTable.droppedProp -> tombs.distinct.mkString(",")) +
              (s"${GraftTable.dropTypePrefix}$name" ->
                sc(name).dataType.json)) {
            (m, chain) => m + (s"${GraftTable.droppedChainPrefix}$name" -> chain)
          }
          // dropping the declared merge-on-read KEY de-configures MOR:
          // row-level statements degrade to copy-on-write (which also
          // absorbs any pending deletes on its first full rewrite)
          val pr3 =
            if (pr2.get(GraftTable.morKeyProp).contains(name))
              pr2 - GraftTable.morKeyProp
            else pr2
          (StructType(sc.fields.filterNot(_.name == name)), pr3)
        }
      // NESTED WIDENING (r19): `ALTER COLUMN s.f TYPE <wider>` walks
      // the struct path and widens the leaf under the same safe matrix
      // — metadata-only like the top-level form; nested fields can
      // never be partition/layout/MOR keys, so only the remap guard
      // applies, and reads upcast the narrow nested physical type
      // natively.
      case ((sc, pr), upd: TableChange.UpdateColumnType) if upd.fieldNames().length >= 2 =>
        val path = upd.fieldNames().toSeq
        val parent = path.head
        val dotted = path.mkString(".")
        require(sc.fieldNames.contains(parent), s"no column '$parent' to alter")
        require(!GraftTable.physOf(pr).contains(parent),
          s"'$parent' is a re-added (physically remapped) column; evolve it " +
            "after a rewrite re-materializes the table under current names")
        val to = upd.newDataType()
        def widenAt(dt: org.apache.spark.sql.types.DataType,
            rest: Seq[String]): org.apache.spark.sql.types.StructType = {
          val st = dt match {
            case s: org.apache.spark.sql.types.StructType => s
            case other => throw new IllegalArgumentException(
              s"ALTER COLUMN $dotted needs a struct at each step, got " +
                s"${other.simpleString}")
          }
          val leafOrInner = rest.head
          val f = st.fields.find(_.name == leafOrInner).getOrElse(
            throw new IllegalArgumentException(
              s"no field '$leafOrInner' on the path $dotted"))
          rest match {
            case Seq(leaf) =>
              require(GraftTable.widensTo(f.dataType, to),
                s"ALTER COLUMN $dotted type change ${f.dataType.simpleString} " +
                  s"-> ${to.simpleString} is not a safe widening")
              StructType(st.fields.map(g =>
                if (g.name == leaf) g.copy(dataType = to) else g))
            case inner +: deeper =>
              StructType(st.fields.map(g =>
                if (g.name == inner) g.copy(dataType = widenAt(g.dataType, deeper))
                else g))
          }
        }
        val newSt = widenAt(sc(parent).dataType, path.tail)
        (StructType(sc.fields.map(f =>
          if (f.name == parent) f.copy(dataType = newSt) else f)), pr)
      case ((sc, pr), upd: TableChange.UpdateColumnType) =>
        // ALTER COLUMN <c> TYPE <wider> — metadata-only under the safe-
        // promotion matrix ([[GraftTable.widensTo]]): the declared field
        // widens, history is untouched, and reads upcast the narrow
        // physical type natively (Spark's parquet readers support the
        // promotion when the declared schema is wider). A pinned
        // time-travel read of a pre-widening version presents the
        // narrow type its own footers carry; a straddling version
        // merges under the same matrix ([[GraftTable.mergeWiden]]).
        require(upd.fieldNames().length == 1,
          s"only top-level ALTER COLUMN TYPE is supported: ${upd.fieldNames().mkString(".")}")
        val name = upd.fieldNames()(0)
        require(sc.fieldNames.contains(name), s"no column '$name' to alter")
        require(!GraftTable.partColsOf(pr).contains(name),
          s"cannot change the type of partition column '$name' (committed " +
            "path values were rendered at the old type)")
        val from = sc(name).dataType
        val to = upd.newDataType()
        // bucket keys hash int-AS-long ([[SnapBucket.bucketIdOf]],
        // Iceberg's spec rule), so int->bigint preserves every
        // committed bucket assignment and is metadata-only like any
        // other widening; the same holds for truncate-transform
        // ordinals (ordinalOf promotes int sources to long before the
        // floorDiv). Any OTHER retype of a layout source still
        // re-keys the committed directories and is refused.
        val layoutSafe = from == org.apache.spark.sql.types.IntegerType &&
          to == org.apache.spark.sql.types.LongType
        require(layoutSafe || !SnapBucket.of(pr).exists(_._1 == name),
          s"cannot change the type of bucket column '$name': only " +
            "int->bigint preserves committed bucket assignments (keys " +
            "hash as longs) — any other retype needs a rewrite into a " +
            "new table")
        require(layoutSafe || !SnapTransform.of(pr).exists(_.col == name),
          s"cannot change the type of transform source column '$name': " +
            "only int->bigint preserves committed truncate ordinals — " +
            "any other retype needs a rewrite into a new table")
        require(GraftTable.widensTo(from, to),
          s"ALTER COLUMN type change ${from.simpleString} -> ${to.simpleString} " +
            "is not a safe widening (int->bigint, float->double, decimal " +
            "precision growth at fixed scale); narrowing or re-typing needs " +
            "a full rewrite")
        // widening composes with PENDING merge-on-read delete files:
        // the delete-key loader upcasts staged narrow key values to the
        // declared type at load time (dispatching on each file's footer
        // physical type, inline and lazy sets alike), so key sets and
        // row values always compare at the declared width regardless
        // of when each delete committed relative to the ALTER
        (StructType(sc.fields.map(f =>
          if (f.name == name) f.copy(dataType = to) else f)), pr)
      case ((sc, pr), set: TableChange.SetProperty) =>
        // a renamed column may key merge-on-read: new delete files
        // stage under the current spelling, and base files carrying a
        // prior spelling resolve through the rename-ledger coalesce
        // BEFORE the delete filter (MorReaderFactory)
        require(set.property() != GraftTable.partColsProp &&
          set.property() != SnapBucket.prop,
          "the partition layout is fixed at CREATE TABLE (committed files " +
            "carry the declared layout paths)")
        require(set.property() != SnapBucket.retiredProp &&
          set.property() != SnapTransform.retiredProp,
          "the retired-layout ledger is maintained by UNSET TBLPROPERTIES " +
            "of the live layout, never set directly")
        require(set.property() != SnapBucket.hashVerProp, bucketHashFixed)
        // PARTITION EVOLUTION entry point: a time/truncate transform
        // may be ADOPTED by a live table (unpartitioned or identity-
        // partitioned) because the segment is DERIVED — the source
        // column stays in the data files, so history needs no rewrite;
        // pre-evolution files read with a NULL synthetic ordinal and
        // pruning keeps them conservatively. CHANGING an existing
        // transform is refused: two ordinal schemes would share one
        // segment name and range pruning would misread the old era's
        // values.
        if (set.property() == SnapTransform.prop) {
          require(SnapTransform.of(pr).isEmpty,
            "the table already declares a partition transform; changing " +
              "it would misread committed ordinals — rewrite into a new " +
              "table instead")
          require(SnapTransform.ofRetired(pr).isEmpty,
            "a RETIRED transform's committed ordinals still occupy the " +
              "_gtpart segment; adopting a new transform would misread " +
              "them — rewrite into a new table instead")
          require(SnapBucket.of(pr).isEmpty && SnapBucket.ofRetired(pr).isEmpty,
            "a (live or retired) bucket layout does not compose with " +
              "time/truncate transforms")
          val spec = SnapTransform.of(pr + (set.property() -> set.value()))
            .getOrElse(throw new IllegalArgumentException(
              s"${SnapTransform.prop} must be '<kind>,<col>[,<width>]' with " +
                s"kind in ${SnapTransform.kinds.mkString("/")}: ${set.value()}"))
          val f = sc.fields.find(_.name == spec.col).getOrElse(
            throw new IllegalArgumentException(
              s"no column '${spec.col}' to transform"))
          require(!GraftTable.partColsOf(pr).contains(spec.col),
            s"'${spec.col}' is an identity partition column (not in the " +
              "data files) — it cannot source a transform")
          require(SnapTransform.supported(spec.kind, f.dataType),
            s"${spec.kind} does not apply to column '${spec.col}' of type " +
              f.dataType.simpleString)
          if (spec.kind == "truncate")
            require(spec.width >= 1 && spec.width <= Int.MaxValue,
              s"truncate needs a width >= 1: ${spec.width}")
        }
        // keyed MOR composes with DERIVED layouts (bucket/transform,
        // live or retired — the source column is a data column, so the
        // MOR scan's flat reads are value-exact, r20) but
        // never with IDENTITY partitioning (those columns live only in
        // file paths) or positional MOR
        require(set.property() != GraftTable.morKeyProp ||
          (GraftTable.partColsOf(pr).isEmpty &&
            !pr.get(GraftTable.posMorProp).contains("true")),
          "graft.mor.key does not compose with identity PARTITIONED BY " +
            "(partition columns live only in file paths) or " +
            "graft.mor.positional (a table deletes by key OR by position)")
        require(set.property() != GraftTable.posMorProp ||
          set.value() != "true" ||
          (GraftTable.partColsOf(pr).isEmpty && SnapBucket.of(pr).isEmpty &&
            SnapTransform.of(pr).isEmpty && SnapBucket.ofRetired(pr).isEmpty &&
            SnapTransform.ofRetired(pr).isEmpty &&
            !pr.contains(GraftTable.morKeyProp)),
          "graft.mor.positional does not compose with PARTITIONED BY (live " +
            "or retired layouts) or graft.mor.key (delta writes stage flat " +
            "pair/data files; a table deletes by key OR by position)")
        // ':' delimits the '#bloom:<ver>:<col>:<file>' manifest line;
        // a bloom column named with one would corrupt the col↔file
        // split on read — refuse the property instead
        require(set.property() != "graft.bloom.cols" ||
          !set.value().contains(':'),
          "graft.bloom.cols entries must not contain ':' (the bloom " +
            "manifest-line delimiter)")
        (sc, pr + (set.property() -> set.value()))
      case ((sc, pr), rm: TableChange.RemoveProperty) =>
        // UNSETting a DERIVED layout RETIRES it (Iceberg's DROP
        // PARTITION FIELD): the spec moves to the retired ledger, so
        // committed `_gbucket=`/`_gtpart=` directories keep parsing
        // (and pruning while the source column lives), new writes
        // stage flat, SPJ reporting stops, and the former source
        // column becomes an ordinary — droppable — column. IDENTITY
        // columns stay fixed: their VALUES live only in committed
        // paths, so un-declaring them would lose data on read.
        require(rm.property() != GraftTable.partColsProp,
          "identity partition columns are fixed at CREATE TABLE " +
            "(committed files carry their values in the paths)")
        require(rm.property() != SnapBucket.hashVerProp, bucketHashFixed)
        if (rm.property() == SnapBucket.prop)
          (sc, SnapBucket.of(pr).fold(pr - rm.property()) { case (c, n) =>
            pr - rm.property() + (SnapBucket.retiredProp -> SnapBucket.render(c, n)) })
        else if (rm.property() == SnapTransform.prop)
          (sc, SnapTransform.of(pr).fold(pr - rm.property())(t =>
            pr - rm.property() + (SnapTransform.retiredProp -> t.render)))
        else {
          require(rm.property() != SnapBucket.retiredProp &&
            rm.property() != SnapTransform.retiredProp,
            "the retired-layout ledger cannot be unset (committed files " +
              "still carry the layout's path segments); a full rewrite " +
              "into a new table sheds it")
          (sc, pr - rm.property())
        }
      case (_, other) => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change ${other.getClass.getSimpleName}: " +
          "type changes need a rewrite")
    }
    GraftTable.writeMeta(root, newSchema, newProps)
    new GraftTable(ident.toString, root, pinned = None)
    }
  }

  // --- FunctionCatalog: the bucket-transform handshake -------------------
  //
  // Spark's storage-partitioned-join planner resolves a reported
  // bucket(n, col) transform by loading `bucket` from the table's own
  // catalog (V2ExpressionUtils.loadV2FunctionOpt resolves
  // Identifier.of(empty, "bucket")) and comparing the bound functions'
  // canonicalName across the two join sides — without this surface a
  // KeyGroupedPartitioning over a bucket transform is ignored.
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespaceExists(namespace))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(namespace)

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") SnapBucket.Unbound
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    ident.name() == "bucket"

  override def dropTable(ident: Identifier): Boolean = {
    val root = Paths.get(rootOf(ident))
    if (!exists(root.toString)) false
    else {
      deleteRecursively(root)
      true
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = Paths.get(rootOf(oldIdent))
    val to = Paths.get(rootOf(newIdent))
    if (!exists(from.toString)) throw new NoSuchTableException(oldIdent)
    if (exists(to.toString)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  // -- namespaces: single-level, directory-backed -------------------------

  override def defaultNamespace(): Array[String] = Array("default")

  override def listNamespaces(): Array[Array[String]] = {
    val w = Paths.get(warehouse)
    if (!Files.isDirectory(w)) Array(Array("default"))
    else {
      val ls = Files.list(w)
      try {
        val found = ls.iterator().asScala.filter(Files.isDirectory(_))
          .map(p => Array(p.getFileName.toString)).toArray
        if (found.exists(_.sameElements(Array("default")))) found
        else found :+ Array("default")
      } finally ls.close()
    }
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && GraftCatalog.isPathSafePart(namespace.head) &&
      (namespace.head == "default" ||
        Files.isDirectory(Paths.get(warehouse, namespace.head)))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] =
    if (namespaceExists(namespace)) Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    require(namespace.length == 1, "only single-level namespaces")
    GraftCatalog.requirePathSafe(namespace.toSeq, "namespace")
    Files.createDirectories(Paths.get(warehouse, namespace.head))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    // deleteRecursively below — an unsafe part here is the worst-case
    // traversal (DROP NAMESPACE snap.`..` CASCADE would delete the
    // warehouse's PARENT). Guard before any path join.
    GraftCatalog.requirePathSafe(namespace.toSeq, "namespace")
    val p = Paths.get(warehouse, namespace.mkString("/"))
    if (!Files.isDirectory(p)) false
    else {
      val ls = Files.list(p)
      val empty = try !ls.iterator().hasNext finally ls.close()
      if (!empty && !cascade) throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
      deleteRecursively(p)
      true
    }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
}

object GraftCatalog {
  /** True iff `p` is safe to use as a single directory name under the
    * warehouse root. Identifier and namespace parts are joined straight
    * into warehouse paths, and several callers act DESTRUCTIVELY on the
    * result (DROP deletes recursively, vacuum/compact rewrite) — so a
    * separator or dot segment, reachable via backtick-quoted DDL like
    * `..` or a CALL string argument, must never resolve outside the
    * warehouse. Every path-join site shares THIS predicate; do not
    * hand-copy the rule. */
  def isPathSafePart(p: String): Boolean =
    p.nonEmpty && !p.contains('/') && !p.contains('\\') &&
      p != ".." && p != "."

  /** Require-flavored [[isPathSafePart]] over all `parts`. */
  def requirePathSafe(parts: Seq[String], what: String): Unit =
    parts.foreach { p =>
      require(isPathSafePart(p),
        s"bad $what part '$p': parts must not contain path " +
          "separators or dot segments")
    }

  /** Register the catalog under `name` on a session (idempotent) and
    * return it. Conf-only — Spark instantiates the class lazily on
    * first reference to `<name>.<ns>.<table>`. */
  def register(spark: SparkSession, name: String = "snap",
      warehouse: Option[String] = None): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    warehouse.foreach(w => spark.conf.set(s"spark.sql.catalog.$name.warehouse", w))
  }

  /** The snapshot root the catalog would use for `<name>.<ns>.<table>`
    * on this session — for fixtures that mix catalog SQL with direct
    * [[Snapshots]] API calls (vacuum, tags, maintenance). */
  def tableRoot(spark: SparkSession, name: String, ns: String, table: String): String = {
    val key = s"spark.sql.catalog.$name.warehouse"
    val w = Option(spark.conf.get(key, null)).filter(_ != null).filter(_.nonEmpty)
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft_snapcat_${ProcessHandle.current().pid()}")
    s"$w/$ns/$table"
  }
}
