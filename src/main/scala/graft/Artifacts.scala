package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** The build-once device for every lake artifact, and its plumbing.
  * [[durable]] is the ONE device: a build runs once per (owner, home,
  * params), publishes under a commit marker, records its params and
  * is served as-is on every later call. Two kinds of home feed it:
  *
  *  - DURABLE homes ([[durableRoot]], [[durableDirFor]]) are keyed to
  *    the source data's fingerprint and survive the JVM, so tomorrow's
  *    job serves tonight's build;
  *  - SESSION homes ([[sessionHome]]) are unique per session object
  *    and key, under one JVM-wide [[tempDir]] root that is deleted at
  *    exit: a session's queries share one build, `spark.newSession()`
  *    gets its own, and nothing outlives the process.
  *
  * The memo, the params check and the exit-time cleanup are the same
  * for both. Catalog table names derive from [[digest]] (first 16 hex
  * of md5), never from the 32-bit `String.hashCode`, on which two
  * homes can collide and overwrite or serve each other's rows.
  *
  * The device runs entirely on the Hadoop [[FileSystem]] API
  * ([[pathFingerprint]], [[isCommitted]], [[writeBucketed]] /
  * [[registerBucketedTable]] too), so a durable home can be a local
  * path, an `hdfs://` dir or an object-store URI — the same surface
  * the payloads are written through. Commit protocol is
  * capability-aware ([[commitMode]]): staging + one atomic directory
  * rename where the FS supports it (local, HDFS), marker-last
  * in-place commit where it doesn't (S3 and friends have no atomic
  * directory rename — renaming there is a copy loop that can be
  * observed half-done, so the marker alone is the transaction
  * boundary and a best-effort build lock keeps concurrent
  * first-builders from writing over each other).
  *
  * The DELTA LIFECYCLE — append an increment, serve base ∪ deltas,
  * compact — is defined here once ([[appendDelta]], [[withDeltas]],
  * [[compactionSource]]); each artifact family keeps only its layout.
  * The contract:
  *  - an append needs a COMMITTED base: the base publish treats any
  *    marker-less tree at its target as crashed-build debris, so a
  *    delta landed under an unbuilt home would be destroyed with it;
  *  - a fold never changes params: compaction copies base and delta
  *    rows verbatim, so the params it stamps must be the ones the
  *    source was built with — stamping the caller's arguments
  *    unchecked would mislabel the output whenever they disagree;
  *  - serving unions the base, then every COMMITTED delta in name
  *    order, left-folded with `unionByName`; uncommitted (in-flight
  *    or crashed) deltas are invisible.
  */
object Artifacts {

  /** A best-effort step (cleanup, probe, retry): a non-fatal failure
    * is printed to stderr and replaced by `fallback`; an interrupt or
    * a fatal error propagates. */
  private def bestEffort[A](what: String, fallback: => A)(body: => A): A =
    try body
    catch { case NonFatal(e) =>
      System.err.println(s"[artifacts] $what failed: $e")
      fallback
    }

  private def quietRename(fs: FileSystem, from: Path, to: Path): Boolean =
    bestEffort(s"rename $from -> $to", false)(fs.rename(from, to))

  private def quietDelete(fs: FileSystem, p: Path): Unit =
    bestEffort(s"delete $p", ()) { fs.delete(p, true); () }

  /** First 16 hex chars of md5(key) — 64 collision-resistant bits,
    * valid in a catalog identifier. */
  def digest(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)

  private val cleanupActions =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]

  /** Installed at most once (lazy-val monitor); drains
    * [[cleanupActions]] with each action isolated so one failing
    * deletion cannot abort the rest. */
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var a = cleanupActions.poll()
      while (a != null) {
        bestEffort("exit-time cleanup", ())(a())
        a = cleanupActions.poll()
      }
    }))

  /** A fresh LOCAL temp directory that is recursively deleted on JVM
    * exit. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    cleanupHook
    cleanupActions.add(() => deleteTree(dir))
    dir
  }

  /** The one root every [[sessionHome]] lives under. */
  private lazy val sessionRoot = tempDir("graft_session_").toString

  /** A random id per session OBJECT (sessions do not override
    * equality). */
  private val sessionIds =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]

  /** The SESSION home of an artifact: `<root>/<family><digest>`, the
    * digest over this session object's id and `key`. Build there with
    * [[durable]]: the session's later calls with the same (family,
    * key) are memo hits, `spark.newSession()` gets its own home and
    * build, and the root is deleted at JVM exit. `key` must carry
    * every build parameter the caller varies, so two configurations
    * get two homes instead of failing the params check. The family
    * prefix stays in the path (plan specs find scans by it). */
  def sessionHome(s: SparkSession, family: String, key: String): String = {
    val id = sessionIds.computeIfAbsent(s, _ => nonce())
    s"$sessionRoot/$family${digest(s"$id|$key")}"
  }

  private val sessionTables = new KeyedMemo[(SparkSession, String), DataFrame]

  /** A parquet table inside an artifact home. Under a [[sessionHome]]
    * it is read ONCE per session: its committed files never change
    * while the JVM lives, and a re-read costs a schema-inference job
    * per call (plus a listing job once the table has more partition
    * dirs than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * — the 512-dir near-dup base). Anywhere else it is read afresh. */
  def parquet(s: SparkSession, path: String): DataFrame =
    if (path.startsWith(s"$sessionRoot/"))
      sessionTables.getOrBuild((s, path))(s.read.parquet(path))
    else s.read.parquet(path)

  private def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try s.forEach(deleteTree(_)) finally s.close()
      }
      bestEffort(s"delete $p", ()) { Files.deleteIfExists(p); () }
    }
  }

  // ------------------------------------------------------------------
  // Hadoop-FileSystem seam: every durable-layer I/O goes through here,
  // so a lake URI works exactly like a local path.
  // ------------------------------------------------------------------

  /** The active session's Hadoop configuration when one exists (it
    * carries the deployment's fs.* settings — credentials, endpoints);
    * vanilla defaults otherwise (local file:// still resolves). */
  private def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Resolve a caller-supplied dir string (plain path, relative path,
    * or URI) to its FileSystem + fully-qualified Path. */
  private[graft] def fsPath(dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hadoopConf)
    (fs, fs.makeQualified(p))
  }

  /** The canonical string form handed back to callers and used as the
    * memo key: the PLAIN absolute path for the local scheme (so build
    * lambdas and Spark writers can use it verbatim, and pre-existing
    * local callers see the exact strings they always did) — but ONLY
    * when the deployment's default filesystem is also local: on a
    * cluster whose fs.defaultFS is hdfs://, a stripped `file:` path
    * handed to a Spark writer would re-resolve against HDFS and split
    * the payload from the marker across two filesystems, so there the
    * explicit URI is preserved. */
  private def pathString(p: Path): String =
    if (p.toUri.getScheme == "file" && defaultFsIsLocal)
      p.toUri.getPath
    else p.toString

  private def defaultFsIsLocal: Boolean =
    FileSystem.getDefaultUri(hadoopConf).getScheme match {
      case null | "file" => true
      case _ => false
    }

  /** Canonical form of a dir string — exposed so artifact NAMES
    * (catalog tables keyed to a dir) derive from the same
    * normalization the durable layer itself uses. */
  def canonical(dir: String): String = pathString(fsPath(dir)._2)

  private def writeSmall(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Name of the commit marker written LAST inside a durable artifact
    * directory: its presence is the transaction boundary — a crashed
    * or partial build leaves no marker and is rebuilt, never served. */
  val CommitMarker = "_GRAFT_COMMIT"

  /** Params sidecar written before the marker; consulted on reuse so a
    * caller pointing a DIFFERENT build configuration at an existing
    * artifact fails loudly instead of silently serving the wrong
    * layout (the r13 ADVICE memo-key hazard, applied to disk). */
  val ParamsFile = "_GRAFT_PARAMS"

  /** Best-effort mutual-exclusion file for the marker-mode commit
    * (object stores): created exclusively by the builder, deleted
    * when the build finishes or fails. */
  val BuildLock = "_GRAFT_BUILD_LOCK"

  /** Per-file payload manifest written BEFORE the marker in every
    * durable build: one line `relpath|size|md5` per payload file
    * (sidecars and `deltas/` excluded), sorted by path. The commit
    * marker says "a build finished here"; the manifest says WHICH
    * files that build produced — [[verifyArtifact]] checks a served
    * tree against it, catching torn copies, bit-rotted payloads and
    * stray files an interleaved marker-mode writer left behind. */
  val ManifestFile = "_GRAFT_MANIFEST"

  private val SidecarNames =
    Set(CommitMarker, ParamsFile, BuildLock, ManifestFile)

  def isCommitted(dir: String): Boolean = {
    val (fs, p) = fsPath(dir)
    fs.exists(new Path(p, CommitMarker))
  }

  /** The params sidecar of a COMMITTED artifact — what the artifact
    * says it was built with ([[compactionSource]] checks it). */
  def committedParams(dir: String): String = {
    val (fs, p) = fsPath(dir)
    require(fs.exists(new Path(p, CommitMarker)),
      s"${pathString(p)} is not a committed artifact")
    readSmall(fs, new Path(p, ParamsFile))
  }

  /** Builds EXECUTED by this JVM, at durable and session homes alike
    * — a spec hook: a cold-session reload that really served the
    * at-rest artifact leaves this counter untouched. */
  val durableBuilds = new java.util.concurrent.atomic.AtomicLong

  private val durableMemo = new KeyedMemo[(Any, String), String]

  /** Commit protocol for this FS: `rename` (staging dir + one atomic
    * directory rename — local, HDFS, anything POSIX-renaming) or
    * `marker` (staged build moved in under the lock, marker written
    * last — object stores, where "rename" is a non-atomic copy loop).
    * Scheme-derived; overridable PER SCHEME via
    * -Dgraft.artifacts.commit.<scheme> /
    * $GRAFT_ARTIFACTS_COMMIT_<SCHEME> (a mixed lake — local staging
    * plus an s3 root in one job — must not share one global answer),
    * then globally via -Dgraft.artifacts.commit /
    * $GRAFT_ARTIFACTS_COMMIT for stores this list mis-classifies. */
  private val NoAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "cos", "obs",
    "wasb", "wasbs", "abfs", "abfss", "swift")
  private[graft] def commitMode(fs: FileSystem): String = {
    val scheme = Option(fs.getScheme).getOrElse("file")
    sys.props.get(s"graft.artifacts.commit.$scheme")
      .orElse(sys.env.get("GRAFT_ARTIFACTS_COMMIT_" +
        scheme.toUpperCase.replace('-', '_')))
      .orElse(sys.props.get("graft.artifacts.commit"))
      .orElse(sys.env.get("GRAFT_ARTIFACTS_COMMIT"))
      .getOrElse(
        if (NoAtomicRenameSchemes(scheme)) "marker" else "rename")
  }

  /** The build-once device, for durable and session homes alike: a
    * committed artifact — written by this JVM, a previous session, or
    * another job entirely — is served as-is, so the "build once,
    * serve many" economics survive process exit. `params` is the
    * build-configuration string: recorded inside the artifact and
    * REQUIRED to match on every committed reuse. NOTE the dir itself
    * carries the INPUT identity — two different input frames pointed
    * at one dir are indistinguishable to the params check, so durable
    * homes should be derived from the source data ([[durableDirFor]]
    * keys them to the dataset's metadata fingerprint, which is what
    * every registered query does).
    *
    * Publication under the `rename` protocol is RACE-SAFE across
    * builders (sessions, or whole JVMs on a shared lake): `build`
    * writes into a private staging dir NEXT TO the target (same
    * filesystem), the params + commit marker land in the staging
    * tree, and the tree is published with ONE atomic rename — the
    * target either doesn't exist or is a complete committed artifact;
    * two racing first-builders each build a consistent tree and the
    * rename loser discards its staging copy and serves the winner's.
    * Crashed-build debris at the target (a tree with NO marker) is
    * renamed ASIDE to a private trash name before deletion — deleting
    * in place raced a concurrent publisher (the r14 ADVICE TOCTOU:
    * the slower deleter could walk a just-published committed tree);
    * the rename-aside makes ownership exclusive, and a grabbed tree
    * that turns out to be committed is put straight back. No
    * partially-written artifact can ever carry the marker.
    *
    * Under the `marker` protocol (object stores) the build writes IN
    * PLACE and the marker lands last — the marker alone is the
    * transaction boundary (that discipline transfers; the atomic
    * rename does not). A best-effort exclusive [[BuildLock]] keeps
    * concurrent first-builders from interleaving writes: losers poll
    * for the winner's marker instead of double-building, a lock
    * released without a marker (failed build) is re-contended, and a
    * stale lock past `graft.artifacts.lockWaitMs` fails loudly rather
    * than hanging forever.
    *
    * Memoized per (owner, canonical path, params) so repeat calls in
    * one JVM skip even the marker stat. */
  def durable(owner: Any, dir: String, params: String = "")
      (build: String => Unit): String = {
    val (fs, target) = fsPath(dir)
    val canon = pathString(target)
    // params ride the MEMO key too: a same-session caller with a
    // different configuration re-enters the cell and hits the loud
    // on-disk params check instead of a silent memo hit
    durableMemo.getOrBuild((owner, s"$canon|$params")) {
      def committed(): Boolean = fs.exists(new Path(target, CommitMarker))
      def checkParams(): Unit = {
        val onDisk = readSmall(fs, new Path(target, ParamsFile))
        require(onDisk == params,
          s"artifact at $canon was built with params '$onDisk', " +
            s"caller expects '$params' — refusing to serve it")
      }
      if (committed()) {
        checkParams()
        // opt-in serve-side integrity check: with
        // -Dgraft.artifacts.verifyOnServe=<md5 fraction> (or the env
        // twin), a tree served from an EXISTING commit is verified
        // against its manifest once per memo cell — existence+size
        // for every listed file, content hashes for the sampled
        // fraction. Off by default: the check costs artifact reads.
        verifyOnServeSample.foreach(f => verifyArtifact(canon, f))
      }
      else if (commitMode(fs) == "rename")
        publishByRename(fs, target, canon, params, build, checkParams _)
      else
        publishByMarker(fs, target, canon, params, build, checkParams _)
      canon
    }
  }

  private def nonce(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** The payload files of an artifact tree: every file under `root`
    * except the four sidecars and anything under `deltas/` (deltas
    * are [[durable]] builds themselves and carry their own
    * manifests). Sorted by relative path. */
  private def payloadFiles(fs: FileSystem, root: Path)
      : Seq[(String, FileStatus)] = {
    val rootUriPath = root.toUri.getPath
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, FileStatus)]
    // recursive listStatus walk, not fs.listFiles: the default
    // listFiles implementation round-trips paths through java.io.File
    // on some FileSystem impls, which rejects non-file schemes
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) walk(st.getPath)
      else {
        val rel = st.getPath.toUri.getPath.stripPrefix(rootUriPath)
          .stripPrefix("/")
        if (!SidecarNames(rel) && !rel.startsWith("deltas/"))
          out += ((rel, st))
      }
    }
    walk(root)
    out.sortBy(_._1).toSeq
  }

  /** Full-content md5 of one artifact file, streamed — the manifest's
    * integrity term. Artifacts are fingerprint/centroid/band-key
    * tables (artifact mass, not corpus mass), so one extra read at
    * build time is cheap against the lifetime of serves it protects. */
  private def fileMd5(fs: FileSystem, p: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write the [[ManifestFile]] over a finished build tree — called
    * by both publish protocols AFTER the build and BEFORE the
    * marker, so a committed artifact always states its own payload. */
  private def writeManifest(fs: FileSystem, buildDir: Path): Unit = {
    val sb = new StringBuilder
    payloadFiles(fs, buildDir).foreach { case (rel, st) =>
      sb.append(rel).append('|').append(st.getLen).append('|')
        .append(fileMd5(fs, st.getPath)).append('\n')
    }
    writeSmall(fs, new Path(buildDir, ManifestFile), sb.toString)
  }

  /** Opt-in serve-side integrity check of a COMMITTED artifact
    * against its [[ManifestFile]]:
    *  - every manifest-listed file must exist with its recorded size;
    *  - NO stray payload file may exist outside the manifest (the
    *    signature of an interleaved marker-mode writer, or of a torn
    *    copy-loop "rename" on a misconfigured store);
    *  - a deterministic `md5Sample` fraction of the listed files is
    *    re-hashed and must match (1.0 = every file — the spec
    *    setting; serving jobs on big artifacts sample).
    * Deltas under `deltas/` are outside this manifest — verify each
    * committed delta dir separately. Fails loudly on any violation;
    * returns (files md5-checked, files listed). An artifact built by
    * a pre-manifest layer fails with a rebuild instruction — silence
    * is exactly what this check exists to remove. */
  def verifyArtifact(dir: String, md5Sample: Double = 1.0,
      seed: Long = 42L): (Int, Int) = {
    val (fs, target) = fsPath(dir)
    val canon = pathString(target)
    require(fs.exists(new Path(target, CommitMarker)),
      s"$canon is not a committed artifact")
    val mPath = new Path(target, ManifestFile)
    require(fs.exists(mPath),
      s"$canon carries no $ManifestFile — built by a pre-manifest " +
        "layer; rebuild it to enable payload verification")
    val manifest = readSmall(fs, mPath).split('\n')
      .iterator.filter(_.nonEmpty).map { line =>
        val cut2 = line.lastIndexOf('|')
        val cut1 = line.lastIndexOf('|', cut2 - 1)
        (line.substring(0, cut1),
          line.substring(cut1 + 1, cut2).toLong,
          line.substring(cut2 + 1))
      }.toSeq
    val actual = payloadFiles(fs, target)
    val listed = manifest.map(_._1).toSet
    val strays = actual.map(_._1).filterNot(listed)
    require(strays.isEmpty,
      s"$canon carries payload files NOT in its manifest (an " +
        s"interleaved writer or torn publish?): " +
        strays.sorted.take(5).mkString(", "))
    val bySize = actual.map { case (rel, st) => rel -> st }.toMap
    manifest.foreach { case (rel, size, _) =>
      val st = bySize.getOrElse(rel,
        sys.error(s"$canon/$rel is in the manifest but MISSING — " +
          "torn or partially deleted payload"))
      require(st.getLen == size,
        s"$canon/$rel is ${st.getLen} bytes, manifest says $size — " +
          "torn or corrupted payload")
    }
    val rnd = new java.util.Random(seed)
    var checked = 0
    manifest.foreach { case (rel, _, md5) =>
      if (rnd.nextDouble() < md5Sample) {
        checked += 1
        val have = fileMd5(fs, new Path(target, rel))
        require(have == md5,
          s"$canon/$rel content checksum $have != manifest $md5 — " +
            "corrupted payload")
      }
    }
    (checked, manifest.length)
  }

  /** The staging step both publish protocols share: a private
    * `.graft_build_<nonce>` dir NEXT TO the target (same filesystem,
    * registered for exit-time deletion as crash leftovers), the
    * build, its manifest and its params — everything but the commit.
    * A build that throws takes its staging tree with it. */
  private def stageBuild(fs: FileSystem, target: Path, params: String,
      build: String => Unit): Path = {
    val parent = target.getParent
    fs.mkdirs(parent)
    val staging = new Path(parent, s".graft_build_${nonce()}")
    fs.mkdirs(staging)
    cleanupHook
    cleanupActions.add(() => { fs.delete(staging, true); () })
    var staged = false
    try {
      build(pathString(staging))
      writeManifest(fs, staging)
      writeSmall(fs, new Path(staging, ParamsFile), params)
      staged = true
    } finally if (!staged) quietDelete(fs, staging)
    staging
  }

  private def publishByRename(fs: FileSystem, target: Path,
      canon: String, params: String, build: String => Unit,
      checkParams: () => Unit): Unit = {
    val staging = stageBuild(fs, target, params, build)
    writeSmall(fs, new Path(staging, CommitMarker), "")
    // crashed-build debris at the target (a tree with NO marker — a
    // committed tree only ever appears atomically under this
    // protocol): grab it with a rename to a private trash name FIRST
    // — once renamed, this builder owns the tree exclusively and can
    // inspect it without racing a publisher — then delete it there.
    // A grabbed tree that turns out to carry the marker was a
    // committed artifact published between the check and the grab:
    // put it straight back (or discard ours if a third racer claimed
    // the slot meanwhile — both trees are complete committed builds).
    if (fs.exists(target) &&
        !fs.exists(new Path(target, CommitMarker))) {
      val trash = new Path(target.getParent, s".graft_trash_${nonce()}")
      if (quietRename(fs, target, trash) &&
          (!fs.exists(new Path(trash, CommitMarker)) ||
            !quietRename(fs, trash, target)))
        quietDelete(fs, trash)
    }
    var published = quietRename(fs, staging, target)
    // some filesystems (HDFS among them) apply POSIX-mv semantics and
    // move the source INTO an existing destination directory instead
    // of failing — that "success" would nest our staging tree inside
    // the winner's committed artifact; detect and undo it, then take
    // the lost-race path
    if (published) {
      val movedInto = new Path(target, staging.getName)
      if (fs.exists(movedInto)) {
        quietDelete(fs, movedInto)
        published = false
      }
    }
    if (published) durableBuilds.incrementAndGet()
    else {
      // a racing builder published first: serve ITS tree (must be
      // committed + params-compatible), discard ours
      quietDelete(fs, staging)
      require(fs.exists(new Path(target, CommitMarker)),
        s"lost the publish race at $canon but the winner's " +
          "artifact is not committed")
      checkParams()
    }
  }

  private def verifyOnServeSample: Option[Double] =
    sys.props.get("graft.artifacts.verifyOnServe")
      .orElse(sys.env.get("GRAFT_ARTIFACTS_VERIFY_ON_SERVE"))
      .map(_.toDouble)

  private def lockWaitMs: Long =
    sys.props.get("graft.artifacts.lockWaitMs").map(_.toLong)
      .getOrElse(600000L)

  private def publishByMarker(fs: FileSystem, target: Path,
      canon: String, params: String, build: String => Unit,
      checkParams: () => Unit): Unit = {
    val marker = new Path(target, CommitMarker)
    val lock = new Path(target, BuildLock)
    val token = nonce()
    val deadline = System.nanoTime() + lockWaitMs * 1000000L
    var done = false
    while (!done) {
      if (fs.exists(marker)) { checkParams(); done = true }
      else {
        fs.mkdirs(target)
        // exclusive create is BEST-EFFORT on stores without a
        // conditional PUT: the token read-back catches most lost
        // races at acquisition, and a second read-back immediately
        // before the commit marker ensures at most one builder ever
        // COMMITS (a builder whose token was overwritten aborts
        // without the marker and re-contends). The residual hazard —
        // two builders interleaving payload writes inside the
        // read-back windows — cannot be closed without a conditional
        // PUT; stores that have one (S3 conditional writes, GCS
        // preconditions) get true exclusivity when the Hadoop client
        // surfaces it, and GRAFT_ARTIFACTS_COMMIT=rename opts into
        // the rename protocol where the store's rename is known
        // consistent.
        def ownsLock(): Boolean =
          bestEffort(s"read of $lock", false)(readSmall(fs, lock) == token)
        val acquired = bestEffort(s"exclusive create of $lock", false) {
          val out = fs.create(lock, false)
          try out.write(token.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          ownsLock()
        }
        if (acquired) {
          var committedHere = false
          try {
            if (!fs.exists(marker)) {
              // build into a PRIVATE staging dir next to the target —
              // not in place: if a second builder slips through a
              // stolen lock (the non-exclusive-create residual), the
              // two builds never touch each other's files during the
              // multi-minute build; only the short move-in below ever
              // writes at the target, and it runs under a fresh
              // ownership re-check.
              val staging = stageBuild(fs, target, params, build)
              try {
                if (ownsLock() && !fs.exists(marker)) {
                  // clear previous debris payloads — never the lock,
                  // and NEVER the commit marker: on a store without
                  // atomic exclusive create, a racing builder that
                  // passed its own ownsLock() re-check can COMMIT
                  // between our marker check and these deletes;
                  // deleting its marker would turn one commit into two
                  // and tear a tree its session is already serving. If
                  // the marker appears mid-clear, abort the clear and
                  // serve the winner. (The move-in interleave residual
                  // inside the read-back windows remains the
                  // documented conditional-PUT caveat — and
                  // [[verifyArtifact]] detects its stray-file
                  // signature at serve time.)
                  val entries = fs.listStatus(target)
                  var markerAppeared =
                    entries.exists(_.getPath.getName == CommitMarker)
                  entries.foreach { st =>
                    val n = st.getPath.getName
                    if (!markerAppeared && n != BuildLock &&
                        n != CommitMarker) {
                      if (fs.exists(marker)) markerAppeared = true
                      else fs.delete(st.getPath, true)
                    }
                  }
                  if (markerAppeared || fs.exists(marker)) {
                    checkParams(); committedHere = true
                  } else {
                    // move the finished build in, entry by entry
                    fs.listStatus(staging).foreach { st =>
                      val moved = fs.rename(st.getPath,
                        new Path(target, st.getPath.getName))
                      require(moved, s"could not move " +
                        s"${st.getPath.getName} into $canon")
                    }
                    // the pre-commit re-verification: if another
                    // builder overwrote the token meanwhile, this tree
                    // may be interleaved — abort WITHOUT the marker
                    // (it stays uncommitted debris) and re-contend
                    if (ownsLock()) {
                      writeSmall(fs, marker, "")
                      durableBuilds.incrementAndGet()
                      committedHere = true
                    }
                  }
                }
              } finally quietDelete(fs, staging)
            } else { checkParams(); committedHere = true }
          } finally {
            // release the lock when it is still OURS (normal commit,
            // or a thrown build) — but never delete another builder's
            // lock (the aborted-lost-token path)
            if (committedHere || ownsLock())
              bestEffort(s"release of $lock", ()) {
                fs.delete(lock, false); ()
              }
          }
          done = committedHere
        } else {
          // someone else holds the lock: poll for their marker; a
          // lock released WITHOUT a marker (failed build) loops back
          // to contend again; a stale lock fails loudly
          var waiting = true
          while (waiting) {
            if (fs.exists(marker)) { checkParams(); done = true; waiting = false }
            else if (!fs.exists(lock)) waiting = false // re-contend
            else if (System.nanoTime() > deadline)
              sys.error(s"timed out waiting for a concurrent build " +
                s"of $canon (lock $BuildLock held past " +
                s"${lockWaitMs}ms with no commit marker — a crashed " +
                "builder? delete the lock file to recover)")
            else Thread.sleep(50)
          }
        }
      }
    }
  }

  /** Default lake root for DURABLE artifacts: `$GRAFT_ARTIFACTS_DIR`
    * when set (the production knob — a local path, `hdfs://` dir or
    * object-store URI; all I/O rides the Hadoop FileSystem API), else
    * `artifacts/` under the working directory. NOT registered for
    * exit-time deletion — surviving the JVM is the point. */
  def durableRoot: String =
    sys.env.getOrElse("GRAFT_ARTIFACTS_DIR",
      new java.io.File("artifacts").getAbsolutePath)

  /** THE durable-artifact home convention:
    * `<durableRoot>/<prefix>_<digest(datasetDir | fingerprint(sidecar))>`
    * — keyed to the dataset path AND the named source table's
    * metadata fingerprint, so a regenerated input quietly gets a
    * fresh artifact instead of being served a stale one. One
    * definition; the per-family helpers delegate here so a keying
    * change cannot fork the scheme. */
  def durableDirFor(prefix: String, datasetDir: String,
      sidecar: String): String =
    s"$durableRoot/${prefix}_${digest(
      datasetDir + "|" + pathFingerprint(s"$datasetDir/$sidecar"))}"

  /** Metadata fingerprint of a dataset path (file or directory):
    * digest over sorted (relative name, size, mtime, content witness)
    * — used to key durable artifacts to their SOURCE so a regenerated
    * input quietly gets a fresh artifact instead of being screened
    * against a stale index. The WITNESS is the first + last 64 bytes
    * of each file (two positioned reads, no full scan): it catches
    * the regeneration that size+mtime alone cannot — a
    * deterministic-size rewrite on a second-granularity filesystem,
    * or an mtime-preserving copy (`cp -p`, rsync) of different bytes
    * (the r14 ADVICE hazard). Parquet puts its footer metadata
    * (row-group offsets, column stats) in exactly that tail window,
    * so any re-write of real data moves the witness. */
  private val fingerprintMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  def pathFingerprint(path: String): String = {
    val (fs, root) = fsPath(path)
    if (!fs.exists(root)) return digest(s"absent:$path")
    val rootUriPath = root.toUri.getPath
    val files = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile) files += st
    }
    val listed = files
      .map(st => (st.getPath.toUri.getPath.stripPrefix(rootUriPath)
        .stripPrefix("/"), st))
      .sortBy(_._1)
    // metadata-only signature of the listing, memoized per JVM: repeat
    // calls (every at-rest query invocation keys its durable home
    // through here) cost ONE recursive listing, not O(files) reads.
    // The witness still catches the cross-JOB mtime-preserving
    // rewrite — its target hazard — because a fresh JVM's memo is
    // empty; a same-metadata rewrite WITHIN one JVM's lifetime would
    // serve the memoized fingerprint until restart (accepted: the
    // alternative is O(files) object-store reads per query)
    val metaSb = new StringBuilder(pathString(root)).append('\n')
    listed.foreach { case (rel, st) =>
      metaSb.append(rel).append('|').append(st.getLen).append('|')
        .append(st.getModificationTime).append('\n')
    }
    val metaKey = digest(metaSb.toString)
    val cached = fingerprintMemo.get(metaKey)
    if (cached != null) return cached
    val sb = new StringBuilder
    listed.foreach { case (rel, st) =>
      sb.append(rel).append('|')
        .append(st.getLen).append('|')
        .append(st.getModificationTime).append('|')
        .append(contentWitness(fs, st)).append('\n')
    }
    val fp = digest(sb.toString)
    fingerprintMemo.put(metaKey, fp)
    fp
  }

  /** md5-digest of a file's first + last 64 bytes (clamped for short
    * files) — the cheap content term of [[pathFingerprint]]. A read
    * failure retries once and then FAILS LOUDLY: silently
    * substituting a fixed token would flip the fingerprint (re-keying
    * every durable artifact to a fresh home) on a transient blip and
    * flip it back afterwards, orphaning the blip-keyed builds. */
  private def contentWitness(fs: FileSystem, st: FileStatus): String = {
    def readOnce(): String = {
      val n = st.getLen
      val span = math.min(64L, n).toInt
      val head = new Array[Byte](span)
      val tail = new Array[Byte](span)
      if (span > 0) {
        val in = fs.open(st.getPath)
        try {
          in.readFully(0L, head)
          in.readFully(n - span, tail)
        } finally in.close()
      }
      val b64 = java.util.Base64.getEncoder
      digest(b64.encodeToString(head) + "|" + b64.encodeToString(tail))
        .take(8)
    }
    bestEffort(s"witness read of ${st.getPath} (retrying once)",
      readOnce())(readOnce())
  }

  /** The write half of a durable BUCKETED artifact, the reload half
    * being [[registerBucketedTable]]: bucketed layouts only write
    * through `saveAsTable`, so `df` is saved bucketed and sorted by
    * `bucketCol` under a THROWAWAY catalog name over `location`, which
    * is dropped again (an external table: the files stay). The durable
    * publish renames the staging tree, so only the post-publish
    * registration may point the real name at the final path. */
  def writeBucketed(df: DataFrame, name: String, location: String,
      bucketCol: String, nBuckets: Int): Unit = {
    val tmpName = s"${name}_b${System.nanoTime()}"
    try df.write.bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .option("path", location).mode("overwrite").saveAsTable(tmpName)
    finally bestEffort(s"drop of throwaway table $tmpName", ()) {
      df.sparkSession.sql(s"DROP TABLE IF EXISTS $tmpName"); ()
    }
  }

  /** Register catalog table `name` over a COMMITTED bucketed layout at
    * `location` — the reload half of a durable BUCKETED artifact:
    * `spark.read.parquet` would discard the bucket spec (bucketing
    * lives in the catalog, not the files), so a fresh session
    * re-declares it with CREATE TABLE … CLUSTERED BY … LOCATION over
    * the existing files (Spark recovers each file's bucket id from
    * its name, so the co-location guarantee survives the JVM).
    * When the session ALREADY knows the table, the existing entry is
    * VERIFIED against the request — location, bucket column, bucket
    * count, sort columns — and a mismatch fails loudly: with a
    * persistent metastore (or any name collision) a stale entry
    * pointing at an old location would otherwise serve the wrong
    * layout silently (the r14 ADVICE finding). */
  def registerBucketedTable(s: SparkSession,
      name: String, location: String, schemaDdl: String,
      bucketCol: String, nBuckets: Int,
      sortCol: Option[String] = None): Unit =
    if (!s.catalog.tableExists(name)) {
      val sortClause = sortCol.map(c => s" SORTED BY ($c)").getOrElse("")
      s.sql(s"CREATE TABLE $name ($schemaDdl) USING parquet " +
        s"CLUSTERED BY ($bucketCol)$sortClause INTO $nBuckets BUCKETS " +
        s"LOCATION '$location'")
    } else {
      val meta = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name))
      val haveLoc = meta.storage.locationUri
        .map(u => canonical(u.toString)).getOrElse("")
      val wantLoc = canonical(location)
      require(haveLoc == wantLoc,
        s"catalog table $name points at '$haveLoc' but the caller's " +
          s"artifact lives at '$wantLoc' — refusing to serve a stale " +
          "registration")
      val spec = meta.bucketSpec.getOrElse(
        sys.error(s"catalog table $name has no bucket spec — it is " +
          "not the bucketed artifact registration it collides with"))
      require(spec.numBuckets == nBuckets &&
          spec.bucketColumnNames == Seq(bucketCol) &&
          spec.sortColumnNames == sortCol.toSeq,
        s"catalog table $name bucket spec " +
          s"(${spec.numBuckets} x ${spec.bucketColumnNames
            .mkString(",")}, sorted ${spec.sortColumnNames
            .mkString(",")}) does not match the requested " +
          s"($nBuckets x $bucketCol, sorted ${sortCol.toSeq
            .mkString(",")})")
    }

  // ------------------------------------------------------------------
  // Incremental artifact MAINTENANCE: commit-marked delta dirs under a
  // durable artifact. The nightly loop this closes (the r14 verdict's
  // #2): the admission manifest decides what enters tonight's batch,
  // the staleness cards decide when to REBUILD — and in between,
  // admitted rows APPEND here, so a 100 TB base is rebuilt only when
  // the gate fires, not nightly.
  // ------------------------------------------------------------------

  /** The delta-home convention: `<artifact>/deltas/<name>`. Each delta
    * is itself a [[durable]] commit-marked dir (marker written last,
    * race-safe publish), so a crashed appender leaves no half-visible
    * increment and serving jobs only ever see whole deltas. `name` is
    * the increment's identity (a batch id, a crawl date) — appending
    * the same name twice is a no-op serve, not a duplicate. */
  def deltaDir(artifactDir: String, name: String): String = {
    require(name.nonEmpty && !name.contains("/") &&
        !name.contains("\\") && name != "." && name != "..",
      s"delta name must be a real single path segment, got '$name' — " +
        "'.', '..' or a separator would resolve the delta into the " +
        "artifact root itself")
    s"${canonical(artifactDir)}/deltas/$name"
  }

  /** COMMITTED delta dirs under an artifact, name-sorted — the set
    * [[withDeltas]] unions with the base. */
  def committedDeltas(artifactDir: String): Seq[String] = {
    val (fs, root) = fsPath(artifactDir)
    val deltas = new Path(root, "deltas")
    if (!fs.exists(deltas)) Seq.empty
    else fs.listStatus(deltas).toSeq
      .filter(st => st.isDirectory &&
        fs.exists(new Path(st.getPath, CommitMarker)))
      .map(st => pathString(st.getPath)).sorted
  }

  /** APPEND one increment to the committed artifact at `dir` as the
    * delta `deltas/<name>`, published by [[durable]] under `stamp`
    * (re-appending a name serves the committed delta). `write` is
    * evaluated once, after the committed-base guard, so a family may
    * read base sidecars while forming it. */
  def appendDelta(owner: Any, dir: String, name: String, stamp: String)
      (write: => String => Unit): String = {
    require(isCommitted(dir),
      s"cannot append delta '$name': ${canonical(dir)} is not a " +
        "committed artifact — build the base first")
    durable(owner, deltaDir(dir, name), stamp)(write)
  }

  /** The serving union: `base` (default: the artifact's own `sub`
    * table) followed by the `sub` table of every committed delta, in
    * name order, left-folded with `unionByName`. */
  def withDeltas(s: SparkSession, dir: String, sub: String): DataFrame =
    withDeltas(s, dir, sub, s.read.parquet(s"$dir/$sub"))

  def withDeltas(s: SparkSession, dir: String, sub: String,
      base: DataFrame): DataFrame =
    (base +: deltaTables(s, dir, sub)).reduce(_ unionByName _)

  /** The committed deltas' `sub` tables alone, unioned as in
    * [[withDeltas]]; None when the artifact has no committed delta. */
  def deltasOnly(s: SparkSession, dir: String,
      sub: String): Option[DataFrame] =
    deltaTables(s, dir, sub).reduceOption(_ unionByName _)

  private def deltaTables(s: SparkSession, dir: String,
      sub: String): Seq[DataFrame] =
    committedDeltas(dir).map(dd => s.read.parquet(s"$dd/$sub"))

  /** The compaction-source check: `dir` must be a committed artifact
    * whose params equal `stamp`, the params the fold will carry.
    * Returns the canonical source dir. */
  def compactionSource(dir: String, stamp: String): String = {
    val canon = canonical(dir)
    val src = committedParams(canon)
    require(src == stamp,
      s"compaction with params '$stamp' but the artifact at $canon " +
        s"was built with '$src' — a fold never changes params; " +
        "rebuild under the new knobs instead")
    canon
  }

  // ------------------------------------------------------------------
  // Artifact inventory + GC (the r14 verdict's #5): pathFingerprint
  // keying means every regenerated input quietly gets a fresh
  // artifact home — correct, but the orphaned predecessors accumulate
  // in durableRoot forever without these.
  // ------------------------------------------------------------------

  /** The fingerprint suffixes of the SUPPLIED live datasets — an
    * artifact home named `<prefix>_<digest>` is live iff its digest
    * appears here (the digest term of [[durableDirFor]] is
    * prefix-independent, so one suffix covers every family built from
    * that dataset). */
  private def liveSuffixes(
      liveDatasets: Seq[(String, String)]): Set[String] =
    liveDatasets.map { case (ds, sidecar) =>
      digest(ds + "|" + pathFingerprint(s"$ds/$sidecar"))
    }.toSet

  private def listArtifactDirs(root: String): Seq[FileStatus] = {
    val (fs, p) = fsPath(root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .sortBy(_.getPath.getName)
  }

  /** One row per artifact home under `root`: (artifact, family,
    * params, committed, n_files, bytes, n_deltas, live).
    *  - `family` is the name up to its last '_' (the
    *    [[durableDirFor]] prefix); staging/trash debris shows up as
    *    its dot-name, uncommitted;
    *  - `live` = the digest suffix matches one of the supplied
    *    (datasetDir, sidecar) pairs under the CURRENT fingerprint —
    *    a regenerated input's predecessors show live=false and are
    *    [[gcArtifacts]] food.
    * Metadata-only: one listing + one contentSummary per artifact
    * (scales with artifact COUNT, never data volume). Registered as
    * the rows-only q346. */
  def inventory(s: SparkSession, root: String,
      liveDatasets: Seq[(String, String)]): DataFrame = {
    val live = liveSuffixes(liveDatasets)
    val (fs, _) = fsPath(root)
    val rows = listArtifactDirs(root).flatMap { st =>
      // per-artifact rows are individually guarded: a dir vanishing
      // between the listing and its stat (a concurrent gcArtifacts —
      // the companion feature — or another job's cleanup) drops ITS
      // row instead of aborting the whole inventory
      bestEffort(s"inventory of ${st.getPath}", Option.empty[(String,
          String, String, Boolean, Long, Long, Int, Boolean)]) {
        val name = st.getPath.getName
        val cut = name.lastIndexOf('_')
        val family = if (cut > 0) name.substring(0, cut) else name
        val suffix = if (cut > 0) name.substring(cut + 1) else ""
        val committed = fs.exists(new Path(st.getPath, CommitMarker))
        val params = bestEffort(s"params read of ${st.getPath}", "")(
          readSmall(fs, new Path(st.getPath, ParamsFile)))
        val summary = fs.getContentSummary(st.getPath)
        Some((name, family, params, committed, summary.getFileCount,
          summary.getLength,
          committedDeltas(pathString(st.getPath)).size, live(suffix)))
      }
    }
    import s.implicits._
    rows.toDF("artifact", "family", "params", "committed", "n_files",
      "bytes", "n_deltas", "live").orderBy("artifact")
  }

  /** A home name produced by [[durableDirFor]]:
    * `<family>_<16-hex-digest>`. Committed homes that do NOT parse —
    * e.g. a caller-chosen compaction outDir — carry no fingerprint
    * the liveness check could interpret, so [[gcArtifacts]] refuses
    * them rather than deleting a possibly-served artifact on a
    * garbage suffix. */
  private val ConventionName =
    java.util.regex.Pattern.compile("^.+_[0-9a-f]{16}$")

  /** Garbage-collect artifact homes under `root`:
    *  - UNCOMMITTED debris (crashed builds, staging/trash leftovers)
    *    is always collectable;
    *  - COMMITTED artifacts are deleted ONLY when their name parses
    *    as a [[durableDirFor]] convention name AND the fingerprint
    *    suffix matches none of the supplied live datasets; an
    *    artifact still keyed to a live dataset is REFUSED no matter
    *    what (the keep-live contract), and a committed home whose
    *    name does NOT parse (a caller-named compaction target, say)
    *    is REFUSED too — its suffix is garbage, not evidence of
    *    orphanhood. GC'd roots should therefore contain only
    *    durableDirFor-named homes if orphan collection is wanted;
    *  - inside every REFUSED committed home, the `deltas/` dir is
    *    swept for nested debris — uncommitted delta trees and
    *    dot-prefixed staging/trash leftovers from crashed appenders —
    *    under the same lock and age guards (the nightly append loop
    *    writes exactly there, so that is where debris accumulates);
    *  - nothing younger than `minAgeMs` is touched, so an in-flight
    *    build's staging dir or an about-to-commit target cannot be
    *    collected from under its builder.
    * Returns the deleted paths, sorted. Schedule it from the artifact
    * owner's maintenance window; the age guard (default 1 h) is the
    * only concurrency defense a GC can honestly offer on a plain
    * filesystem. */
  def gcArtifacts(root: String, liveDatasets: Seq[(String, String)],
      minAgeMs: Long = 3600000L): Seq[String] = {
    val live = liveSuffixes(liveDatasets)
    val (fs, _) = fsPath(root)
    val now = System.currentTimeMillis()
    def collectable(st: FileStatus): Boolean =
      !locked(fs, st.getPath) && now - lastActivity(fs, st) >= minAgeMs
    listArtifactDirs(root).flatMap { st =>
      val name = st.getPath.getName
      val suffix = name.substring(name.lastIndexOf('_') + 1)
      val conventionNamed = ConventionName.matcher(name).matches()
      val committed = fs.exists(new Path(st.getPath, CommitMarker))
      // a marker-mode build IN FLIGHT holds the lock — never collect
      // under a live builder, regardless of age (a crashed builder's
      // stale lock must be removed by the operator first, exactly as
      // the lock-wait error message instructs)
      if (committed && (!conventionNamed || live(suffix)))
        sweepDeltaDebris(fs, st.getPath, minAgeMs) // refused home
      else if (!collectable(st)) Nil
      else collect(fs, st.getPath).toSeq
    }.sorted
  }

  /** A lock stat that fails counts as LOCKED — GC never collects a
    * tree it cannot prove idle. */
  private def locked(fs: FileSystem, p: Path): Boolean =
    bestEffort(s"lock stat of $p", true)(fs.exists(new Path(p, BuildLock)))

  /** Delete one GC victim; the deleted path, or None if it failed. */
  private def collect(fs: FileSystem, p: Path): Option[String] =
    bestEffort(s"delete $p", Option.empty[String]) {
      fs.delete(p, true)
      Some(pathString(p))
    }

  /** The nested sweep under a REFUSED committed home: crashed
    * appenders run [[durable]] inside `<home>/deltas/`, leaving
    * uncommitted `deltas/<name>` trees and `.graft_build_*` /
    * `.graft_trash_*` staging debris that the top-level GC can never
    * reach (the home itself is correctly refused). Committed deltas
    * are untouchable — they are the serving set. */
  private def sweepDeltaDebris(fs: FileSystem, home: Path,
      minAgeMs: Long): Seq[String] = {
    val deltas = new Path(home, "deltas")
    val now = System.currentTimeMillis()
    val entries = bestEffort(s"listing of $deltas", Seq.empty[FileStatus]) {
      if (fs.exists(deltas)) fs.listStatus(deltas).toSeq else Seq.empty
    }
    entries.flatMap { st =>
      val n = st.getPath.getName
      val committed = st.isDirectory &&
        fs.exists(new Path(st.getPath, CommitMarker))
      val dotDebris = n.startsWith(".")
      if (committed && !dotDebris) None // serving delta: untouchable
      else if (locked(fs, st.getPath)) None // appender may be live
      else if (now - lastActivity(fs, st) < minAgeMs) None // too young
      else collect(fs, st.getPath)
    }
  }

  /** The newest modification time anywhere under an artifact dir —
    * the GC age signal. The top-level dir mtime alone is NOT it: a
    * long rename-mode build writing nested payload subdirs can leave
    * the staging dir's own mtime at build start, and an age-based
    * sweep would collect the tree from under the live builder. */
  private def lastActivity(fs: FileSystem, st: FileStatus): Long =
    bestEffort(s"activity scan of ${st.getPath}",
        System.currentTimeMillis()) {
      var latest = st.getModificationTime
      val it = fs.listFiles(st.getPath, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getModificationTime > latest)
          latest = f.getModificationTime
      }
      latest
    }

  /** Build-once-per-key memo: `computeIfAbsent` installs a lazy cell
    * (cheap — no build under the map's bin lock); the build itself
    * runs under the cell's OWN monitor, so two threads racing on the
    * same key build once while unrelated keys never serialize. A
    * build that throws leaves its cell uninitialized — the next call
    * retries, matching the old getOrElseUpdate semantics. */
  private final class KeyedMemo[K, V] {
    private val cells =
      new java.util.concurrent.ConcurrentHashMap[K, () => V]
    def getOrBuild(key: K)(build: => V): V =
      cells.computeIfAbsent(key,
        new java.util.function.Function[K, () => V] {
          def apply(k: K): () => V = { lazy val v: V = build; () => v }
        })()
  }
}
