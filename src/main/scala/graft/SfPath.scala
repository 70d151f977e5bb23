package graft

/** THE filesystem-safe key for an sfDir — the one sanitizer every per-sfDir
  * artifact path (IVF/PQ/SQ8/LSH exports, sorted/scrubbed lakes, probe
  * artifacts) derives from. Keyed-oracle correctness rests on "the build
  * writes where the render reads": with a single definition, adjusting the
  * sanitization (or fixing a collision) cannot silently split the two
  * (review r11 — the regex had grown eight textually-identical copies). */
object SfPath {

  /** Raw inputs seen per safe name in this JVM — the collision guard's
    * evidence (ADVICE r11: two distinct raw sfDirs that sanitize to one safe
    * name would silently share every keyed artifact directory, so the second
    * build overwrites the first caller's artifacts while both memo entries
    * stay live). Not on `Artifact.memo`: the guard must outlive a reset. */
  private val seen = scala.collection.concurrent.TrieMap.empty[String, String]

  /** On-disk twin of [[seen]] (ADVICE r12: the in-JVM map cannot see a
    * collision across separate JVMs or restarts — exactly when the stale
    * artifact is most likely to be silently reused). One marker file per
    * safe name under the same `target/` root every keyed artifact lives in,
    * holding the normalized raw identity; verified on every [[safe]] call. */
  private val registry = java.nio.file.Paths.get("target", ".sfpath-keys")

  /** Collision identity: path-normalized, so two SPELLINGS of one directory
    * (`//root/x`, `/root/./x`, a relative form) never trip the guard —
    * only genuinely different directories colliding on one safe name do
    * (review r12: the raw-string compare threw a spurious ambiguity for
    * equivalent spellings). Falls back to the raw string for inputs the
    * path API rejects. */
  private def identity(sfDir: String): String =
    try java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.toString
    catch { case _: java.nio.file.InvalidPathException => sfDir }

  private def collide(s: String, a: String, b: String): Nothing =
    throw new IllegalArgumentException(
      s"ambiguous artifact key: sfDirs '$a' and '$b' both sanitize to " +
        s"'$s' — their keyed artifact paths would collide; disambiguate " +
        "the directory names, or remove target/.sfpath-keys after clearing " +
        "the stale artifacts (fail-loud convention for ambiguous artifacts)")

  /** Cross-process arm of the guard: record `id` under the safe name in the
    * on-disk registry, failing loudly if a DIFFERENT identity already owns
    * it. Registry I/O failures degrade to the in-JVM guard (never mask the
    * collision error itself — only IOExceptions are swallowed). */
  private def persistGuard(s: String, id: String): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.charset.StandardCharsets.UTF_8
    try {
      Files.createDirectories(registry)
      val f = registry.resolve(s)
      def ownerOf(p: java.nio.file.Path): String =
        new String(Files.readAllBytes(p), UTF_8).trim
      if (Files.exists(f)) {
        val prior = ownerOf(f)
        if (prior.nonEmpty && prior != id) collide(s, prior, id)
      } else {
        // atomic claim: write-to-temp + ATOMIC_MOVE without REPLACE, so two
        // racing processes cannot both think they own the name — the loser
        // re-verifies against whatever the winner recorded
        val tmp = Files.createTempFile(registry, s".$s", ".tmp")
        Files.write(tmp, id.getBytes(UTF_8))
        try Files.move(tmp, f, StandardCopyOption.ATOMIC_MOVE)
        catch {
          case _: java.nio.file.FileAlreadyExistsException |
               _: java.nio.file.FileSystemException =>
            Files.deleteIfExists(tmp)
            if (Files.exists(f)) {
              val prior = ownerOf(f)
              if (prior.nonEmpty && prior != id) collide(s, prior, id)
            }
        }
      }
    } catch { case _: java.io.IOException => () }
  }

  def safe(sfDir: String): String = {
    val s = sfDir.replaceAll("^[^A-Za-z0-9.]+", "").replaceAll("[^A-Za-z0-9.]", "_")
    val id = identity(sfDir)
    val prior = seen.putIfAbsent(s, id)
    prior.foreach { p => if (p != id) collide(s, p, id) }
    persistGuard(s, id)
    s
  }
}
