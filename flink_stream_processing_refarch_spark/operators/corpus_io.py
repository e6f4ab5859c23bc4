"""Corpus output: partitioned parquet writer with a verifiable manifest.

The write side of the training-data pipeline — the batch complement of
the streaming sinks (`streaming/sinks.py` ES bulk, the single-pass
pipeline's epoch-addressed partial writer). The reference's sinks are
Kinesis/Elasticsearch (flink-taxi-stream-processor/.../
ProcessTaxiStream.java:137-150); a corpus engine's primary sink is a
partitioned columnar layout plus a manifest consumers can trust.

Design for 100 TB:
  - ``partitionBy`` on low-cardinality provenance columns (source/split)
    so downstream mixes prune partitions at the scan;
  - ``maxRecordsPerFile`` bounds file sizes without a global sort or an
    extra repartition (Spark splits within task output);
  - dynamic partition overwrite makes re-running one source/shard
    IDEMPOTENT: only the partitions present in the new data are
    replaced, everything else is untouched — the batch analogue of the
    epoch-overwrite idempotency the streaming sinks use;
  - the manifest is written AFTER a read-back of the committed files
    (counts come from what landed, not from what was attempted), so a
    consumer checking ``verify_manifest`` never trusts a partial write.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_corpus_manifest.json"

#: single-maintainer lease file (underscore-prefixed so Spark's parquet
#: reader ignores it, like _SUCCESS / the manifest).
LEASE = "_corpus_lease.json"

#: staged-swap intent record, dumped inside the staging dir before the
#: swap begins — recovery reads it to know exactly which partitions the
#: crashed writer meant to touch.
SWAPLIST = "_swaplist.json"

#: default lease time-to-live; a writer that dies without releasing is
#: considered crashed after this and its lease may be broken.
LEASE_TTL_SEC = 3600.0

#: corpus-level version-retention setting (r14 time travel): written by
#: :func:`set_corpus_retention`, read by every writer's post-commit
#: cleanup. Absent file == retention disabled (displaced bytes are
#: destroyed at end-of-op, the pre-r14 behavior, byte-identical).
RETENTION = "_corpus_retention.json"

#: displaced-original directories kept for time travel
#: (``_retired_{token}/{pkey}/part-*.parquet``). Underscore-prefixed so
#: Spark scans ignore them; distinct from ``_trash_`` so crash recovery
#: never classifies a RETIRED version as rollback residue.
RETIRED_PREFIX = "_retired_"

#: measurement seam for the r14 decade A/B
#: (tools/scale_checkpoint_ab.py): True restores the r10-era eager
#: corpus-sized ``localCheckpoint`` on the FULL-REWRITE writers
#: (layout clustering, column redaction) that r14 removed — the
#: staged swap already guarantees the source files are untouched
#: until the post-job renames, so the snapshot bought no safety and
#: roughly doubled the rewrite's I/O. Production default: False.
EAGER_REWRITE_CHECKPOINT = False


class MaintenanceLeaseHeld(RuntimeError):
    """Another writer holds the corpus maintenance lease."""


#: diagnostic counters (process-local): how often the TTL-break path
#: actually destroyed an expired lease, and how often a break attempt
#: discovered it had stolen a LIVE lease and restored it instead. The
#: hammer test asserts 0 breaks under normal-TTL contention.
#: Incremented under a lock (r11, ADVICE r10): the module is exercised
#: from concurrent writer threads, and an unsynchronized ``+= 1`` can
#: drop increments and flake the hammer's exact-equality assertions.
BREAK_COUNT = 0
BREAK_RESTORED_COUNT = 0
_COUNTER_LOCK = threading.Lock()


@contextlib.contextmanager
def corpus_lease(out_dir: str, purpose: str, ttl_sec: float = LEASE_TTL_SEC):
    """Single-maintainer mutual exclusion for corpus WRITERS (upsert,
    compaction, layout clustering) — the r09 answer to the interleaved-
    maintenance lost-update (VERDICT r08 #6).

    The failure mode without it (pinned by
    tests/test_corpus_io.py::test_interleaved_compaction_loses_upsert_without_lease):
    every writer here is read-modify-write — compaction/layout snapshot
    the corpus via ``localCheckpoint`` and upsert reads the touched
    partitions — then commit with dynamic partition overwrite. Two
    writers interleaved on the same partition means the SLOWER one
    commits from a snapshot that predates the faster one's commit, and
    the faster one's rows are silently replaced (an upsert's merged
    delta vanishes under a concurrent compaction, or a compaction
    resurrects pre-upsert rows). Last-writer-wins is NOT content-correct
    here because the writers are not blind overwrites — they each
    promise to preserve the other's content.

    Mechanics (hardened after an r09 review found the naive
    O_EXCL-then-write version acquirable over a mid-dump lease):

    - CREATE is atomic **with content**: the lease json is fully
      written and fsynced to a private temp name, then hard-linked to
      the lease name — ``os.link`` fails if a lease exists, and the
      published file is never observably empty or partial, so a
      concurrent acquirer can never misread a live lease as a crashed
      one. The local stand-in for an object store's conditional PUT /
      a metastore's transactional commit (what a 100 TB deployment
      uses; same protocol, different primitive).
    - BREAK (a lease older than ``ttl_sec``, presumed crashed) is a
      rename-aside: ``os.rename`` to a breaker-unique name — atomic,
      exactly one concurrent breaker wins — then the aside file is
      RE-JUDGED ON ITS OWN CONTENT before the unlink (r10, closing an
      r09 review TOCTOU): if another breaker already broke the stale
      lease and a successor acquired a fresh one in the gap between
      this breaker's staleness read and its rename, the rename stole
      the successor's LIVE lease — the re-read detects that (the aside
      is not TTL-expired), hard-links it back to the lease name, and
      falls through to the normal already-held failure instead of
      unlinking it. Only a lease that is expired AT THE MOMENT THE
      BREAKER EXCLUSIVELY OWNS IT is ever destroyed. An UNREADABLE
      lease (impossible via this module's writer; external corruption)
      is broken only when its mtime is also past the TTL. Residual: if
      a THIRD acquirer slips into the rename-to-restore gap, the
      restore's link fails and the displaced live holder aborts at its
      next commit fence — an honest abort, never a lost update.
    - RELEASE is token-checked through the same rename-aside discipline
      as the break (r10): the exit renames the lease to a holder-unique
      name, verifies the token on the file it now exclusively owns, and
      unlinks only its own generation — a mismatched (successor's)
      lease is hard-linked back untouched. A holder that outlived its
      TTL can therefore never delete its successor's lease, even if the
      successor appears between the verify and the delete
      (tests: test_expired_holder_does_not_release_successors_lease,
      test_release_restores_successors_lease_swapped_in_midway).
    - COMMIT FENCE: the locked bodies call :func:`check_lease` with
      the yielded token immediately before every destructive step
      (the dynamic-overwrite write, the manifest dump) — a slow but
      alive holder whose lease was TTL-broken ABORTS instead of
      committing a stale snapshot over its successor's work.

    Residuals (documented, inherent to filesystem locks — a real
    deployment's storage-side conditional ops close these): both the
    break and the release verify-then-act through a rename-aside (r10),
    so neither ever destroys a live successor's lease — the remaining
    window is the rename-to-restore gap, during which the lease name is
    briefly absent and a slipped-in acquirer displaces the live holder
    into an honest fence abort (never a lost update).
    The fence-then-write story (r10, two steps): the r09 review found
    the window was NOT small — dynamic partition overwrite performs
    its destructive swap at Spark JOB COMMIT, leaving the entire write
    job unguarded against a TTL break. The read-modify-write writers
    (upsert / compact / layout) now commit through
    :func:`_staged_swap_write`: the Spark job lands in a private
    underscore-prefixed staging dir (clobbers nothing), the fence
    re-checks the token, and only then do two renames per touched
    partition swap the result live — the unguarded span is those
    renames, microseconds per partition. A TTL expiring exactly inside
    that span can still lose an update (size ``ttl_sec`` generously
    anyway); the initial :func:`write_partitioned_corpus` REBUILD keeps
    the plain dynamic overwrite and therefore the whole-job window —
    it is a blind self-contained rebuild, re-run on failure. At 100 TB
    the storage layer's conditional commit (object-store conditional
    PUT, metastore transaction) replaces this residual entirely.
    A writer KILLED mid-swap leaves its staging/trash dirs (and its
    lease, until the TTL) behind; :func:`recover_corpus` rolls the
    corpus back to the last committed state from exactly those
    leftovers (r11).

    Observed under contention (tests/test_corpus_io.py hammer: 3 upsert
    threads + 1 compact/layout thread, 3 cycles each, one corpus): all
    15 writes serialize through retry-on-held, the final content equals
    the serial merge, and with the default TTL the break path fires 0
    times — ``BREAK_COUNT`` / ``BREAK_RESTORED_COUNT`` are the
    process-local counters a deployment would export as metrics.

    Yields the fence token. Holding is per-corpus, not global: writers
    on different corpora never contend, and READERS are never blocked
    (they see the last committed files either way)."""
    path = os.path.join(out_dir, LEASE)
    token = f"{os.getpid()}-{time.time_ns()}"
    stale = False
    try:
        with open(path) as f:
            held = json.load(f)
        stale = time.time() - float(held.get("acquired_at", 0)) > float(
            held.get("ttl_sec", ttl_sec)
        )
    except FileNotFoundError:
        pass
    except (json.JSONDecodeError, ValueError, OSError):
        # unreadable: link-based creation never publishes a partial
        # lease, so this is external corruption — break only if also
        # time-stale, never because a writer might be mid-dump
        with contextlib.suppress(OSError):
            stale = time.time() - os.path.getmtime(path) > ttl_sec
    if stale:
        global BREAK_COUNT, BREAK_RESTORED_COUNT
        aside = f"{path}.broken.{token}"
        renamed = False
        with contextlib.suppress(FileNotFoundError, OSError):
            os.rename(path, aside)  # atomic: one breaker wins
            renamed = True
        if renamed:
            # TOCTOU guard (r10): the staleness verdict above predates
            # the rename — re-judge the file we now exclusively own. If
            # a concurrent breaker already broke the stale lease and a
            # successor acquired a FRESH one in that gap, the rename
            # stole the successor's live lease: restore it and fall
            # through to the normal already-held failure.
            live = False
            try:
                with open(aside) as f:
                    taken = json.load(f)
                live = time.time() - float(
                    taken.get("acquired_at", 0)
                ) <= float(taken.get("ttl_sec", ttl_sec))
            except (json.JSONDecodeError, ValueError, OSError):
                live = False  # unreadable: already mtime-judged stale
            if live:
                with _COUNTER_LOCK:
                    BREAK_RESTORED_COUNT += 1
                # link (not rename): if a third acquirer re-created the
                # lease name meanwhile, restoring must not clobber it —
                # the displaced holder then aborts at its commit fence
                with contextlib.suppress(OSError):
                    os.link(aside, path)
            else:
                with _COUNTER_LOCK:
                    BREAK_COUNT += 1
            with contextlib.suppress(OSError):
                os.unlink(aside)
    tmp = f"{path}.{token}.tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "purpose": purpose,
                "pid": os.getpid(),
                "acquired_at": time.time(),
                "ttl_sec": ttl_sec,
                "token": token,
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)  # atomic create WITH complete content
    except FileExistsError:
        os.unlink(tmp)
        try:
            with open(path) as f:
                held_raw = f.read()
        except OSError:
            held_raw = ""
        raise MaintenanceLeaseHeld(
            f"corpus at {out_dir} has an active maintenance lease: "
            f"{held_raw.strip() or '<unreadable>'} — serialize writers, "
            "or break the lease if the holder crashed"
        ) from None
    os.unlink(tmp)
    try:
        yield token
    finally:
        # token-checked release via rename-aside (r10 — the same
        # discipline as the break path: a bare read-token-then-unlink
        # leaves a window where a TTL-break + re-acquire swaps in a
        # successor's lease between the two steps and the unlink
        # deletes it). Renaming first makes verify-then-delete atomic
        # on a file this holder exclusively owns; a mismatched token
        # is hard-linked back untouched.
        rel = f"{path}.release.{token}"
        renamed = False
        with contextlib.suppress(OSError):
            os.rename(path, rel)
            renamed = True
        if renamed:
            mine = False
            with contextlib.suppress(
                json.JSONDecodeError, ValueError, OSError
            ):
                with open(rel) as f:
                    mine = json.load(f).get("token") == token
            if not mine:
                # a successor's live lease: restore it (link, not
                # rename — never clobber a third acquirer's newer
                # lease; a displaced holder aborts at its fence)
                with contextlib.suppress(OSError):
                    os.link(rel, path)
            with contextlib.suppress(OSError):
                os.unlink(rel)


def check_lease(out_dir: str, token: str) -> None:
    """Commit fence: raise unless ``token``'s lease is still on disk.
    Called by the locked bodies immediately before each destructive
    step, so a holder whose lease was TTL-broken by a successor aborts
    instead of overwriting the successor's commit (r09 review #2)."""
    try:
        with open(os.path.join(out_dir, LEASE)) as f:
            if json.load(f).get("token") == token:
                return
    except (FileNotFoundError, json.JSONDecodeError, OSError):
        pass
    raise MaintenanceLeaseHeld(
        f"maintenance lease for {out_dir} was lost mid-operation (TTL "
        "expired and a successor broke it?) — aborting before the "
        "commit instead of clobbering the successor's work; raise "
        "ttl_sec above the longest expected job"
    )

#: (delta simpleString, corpus simpleString) pairs an upsert casts UP
#: silently (r13, ADVICE r12 #2): value-preserving integral widenings
#: and float->double only — directions where casting the DELTA to the
#: corpus type loses nothing and the corpus's physical type (what
#: untouched partitions' files hold) never moves. Everything else —
#: any narrowing, int<->float crossings, string coercions — raises.
_LOSSLESS_UPCASTS = frozenset(
    [
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    ]
)

#: Spark's on-disk directory name for a NULL partition value. Manifest
#: keys must use the same token or null-keyed partitions stop matching
#: the physical layout (the upsert predicate itself is null-safe via
#: eqNullSafe; this is only about key RENDERING).
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

#: characters Spark Hive-escapes in partition directory names
#: (ExternalCatalogUtils.escapePathName): control chars, DEL, and the
#: path/glob/quote metacharacters below — rendered as %XX (upper hex).
_HIVE_ESCAPED = set(range(0x00, 0x20)) | {0x7F} | {
    ord(c) for c in '"#%\'*/:=?\\{[]^'
}


def _hive_escape(v: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ord(ch) in _HIVE_ESCAPED else ch for ch in v
    )


def _hive_unescape(v: str) -> str:
    out, i = [], 0
    hexd = "0123456789abcdefABCDEF"
    while i < len(v):
        if v[i] == "%" and i + 3 <= len(v) and all(
            c in hexd for c in v[i + 1:i + 3]
        ):
            out.append(chr(int(v[i + 1:i + 3], 16)))
            i += 3
        else:
            out.append(v[i])
            i += 1
    return "".join(out)


def _val_str(v) -> str:
    """Spark's string rendering of a partition VALUE — the token the
    directory name holds before Hive escaping. Matches Cast-to-string
    semantics for the supported partition-value types (string, int,
    date); booleans are lowercased explicitly (Python ``str(True)`` is
    'True', Spark writes 'true'). Floats are discouraged as partition
    values (exponent renderings diverge between Python and the JVM)."""
    return ("true" if v else "false") if isinstance(v, bool) else str(v)


def _pkey(partition_cols: tuple[str, ...], row) -> str:
    """Manifest/physical key for a partition-value row: rendered exactly
    as Spark lays the directory out (Hive escaping included, r10 — a
    review found the staged swap and the compaction file-count glob
    both miss partitions whose value Spark escapes, e.g. 'a%b' living
    in 'source=a%25b'), so every os.path.join(out_dir, pkey) hits the
    real directory."""
    return "/".join(
        f"{c}={HIVE_NULL if row[c] is None else _hive_escape(_val_str(row[c]))}"
        for c in partition_cols
    )


def _manifest_schema(out_dir: str):
    """The corpus data schema recorded in the committed manifest
    (r12, schema evolution), or None for a legacy/absent manifest.
    The manifest is the schema AUTHORITY once a corpus has evolved:
    after :func:`upsert_corpus` widens the schema, files written
    before the evolution physically LACK the new columns, so a
    footer-sampled schema depends on which file the sampler hits —
    only the manifest knows the full current width."""
    from pyspark.sql import types as T

    try:
        with open(os.path.join(out_dir, MANIFEST)) as f:
            recorded = json.load(f).get("schema")
    except (FileNotFoundError, json.JSONDecodeError, OSError):
        return None
    return None if recorded is None else T.StructType.fromJson(recorded)


#: rolling directory of the last K token-stamped manifests — the
#: commit log a bad commit is diagnosed from (verify_manifest failures
#: can name WHICH writer's dump first diverged) (r13, VERDICT r12 #8).
MANIFEST_HISTORY = "_manifest_history"
MANIFEST_HISTORY_KEEP = 16

#: how many commit tokens the manifest itself remembers (r13, ADVICE
#: r12 #1). Bounds the manifest's size; 64 committed writers is far
#: beyond any residue's plausible survival horizon (each commit is an
#: opportunity for recovery/vacuum to have swept it).
COMMITTED_TOKENS_KEEP = 64


def _token_time_ns(token: str) -> int | None:
    """Creation time embedded in a lease token ('{pid}-{time_ns}'),
    or None for a token this module's writer did not mint (fabricated
    test tokens, external residue)."""
    _, _, ts = token.partition("-")
    try:
        return int(ts)
    except ValueError:
        return None


def _absence_is_proof(token: str, log: list[str]) -> bool:
    """True iff ``token``'s absence from the manifest's durable commit
    log PROVES it never committed (r14, ADVICE r13 #1). Two sound
    cases:

    - the log is UNSATURATED (fewer than :data:`COMMITTED_TOKENS_KEEP`
      entries): nothing has ever been pruned, so the log holds every
      commit since the corpus was born — absence is proof;
    - the residue token's embedded creation time is YOUNGER than the
      oldest retained entry's: writers serialize on the per-corpus
      lease and tokens are minted at acquisition, so creation order
      tracks commit order — had this token committed, it would have
      committed after the oldest retained entry and still be in the
      log.

    Everything else (saturated log + older-or-unparseable residue
    token) is ambiguous — the token COULD be a committed writer's,
    pruned past the retention window — and the caller must raise for
    manual inspection instead of defaulting to rollback, which would
    resurrect taken-down data if the guess is wrong."""
    if len(log) < COMMITTED_TOKENS_KEEP:
        return True
    t = _token_time_ns(token)
    oldest = _token_time_ns(log[0]) if log else None
    return t is not None and oldest is not None and t > oldest


def _atomic_manifest_replace(out_dir: str, manifest: dict) -> None:
    """fsync'd temp-write + ``os.replace`` + directory fsync — the
    old-or-new-never-torn manifest publish discipline (see
    :func:`_dump_manifest`), shared with the layout-only file-list
    rewrite (r14)."""
    tmp = os.path.join(out_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(out_dir, MANIFEST))
    dfd = os.open(out_dir, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _rewrite_manifest_files(out_dir: str, pkeys) -> dict:
    """Refresh the manifest's per-partition FILE LISTS in place without
    a commit (r14, snapshot-isolated reads): compaction and layout
    clustering change file names but not content, so they must not
    appear in the ``committed_tokens`` log (its order is the
    serialization witness of CONTENT-changing commits, replayed by the
    writer-mix property tests) and must not move ``writer_token`` (a
    CDC consumer stores the reported 'to' token; pointing it at a
    token with no history manifest would break its next poll). Only
    the ``files`` map moves — counts, fingerprints, schema, tokens all
    stay byte-identical — via the same atomic replace as a commit.
    Caller holds the lease. A crash between the swap and this rewrite
    leaves stale file lists; :func:`pin_corpus_snapshot` degrades
    gracefully there (retry, then the caller falls back to a plain
    read)."""
    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    files = {
        **manifest.get("files", {}),
        **_partition_files(out_dir, pkeys),
    }
    # never carry an entry for a partition the manifest no longer has
    manifest["files"] = {
        k: v for k, v in files.items() if k in manifest["partitions"]
    }
    _atomic_manifest_replace(out_dir, manifest)
    return manifest


def _dump_manifest(out_dir: str, manifest: dict, token: str) -> dict:
    """ATOMIC manifest commit (r12 review): the manifest dump is every
    writer's commit point, but a plain ``open(w)`` + ``json.dump``
    could be caught mid-write by a crash and leave a TRUNCATED
    manifest — which downstream code would then treat as
    prior-manifest-missing (the recovery rebuild path) at best, or
    raise on at worst. Write to a temp file, ``fsync`` it, and
    ``os.replace`` — then fsync the DIRECTORY so the rename itself is
    durable (r13, ADVICE r12 #4: without the fsyncs the
    old-or-new-never-torn claim holds for process crashes but not
    power loss, where the replace can be reordered before the data
    blocks land — the exact failure this function exists to prevent;
    same discipline as the lease writer).

    The dump records two commit witnesses:

    - ``writer_token`` — the lease token of the writer that committed
      THIS manifest;
    - ``committed_tokens`` — the last :data:`COMMITTED_TOKENS_KEEP`
      commit tokens in commit order, carried forward from the prior
      manifest (r13, ADVICE r12 #1). This is what lets
      :func:`recover_corpus` classify a crashed writer's leftovers as
      PRE-commit (roll back) vs POST-commit (roll forward) DURABLY:
      the latest-``writer_token``-only check broke as soon as a
      SUBSEQUENT writer committed before recovery ran — the stale
      post-commit residue of a deferred-cleanup delete would then be
      misclassified as pre-commit and rolled BACK, resurrecting
      taken-down partitions. A token's membership in
      ``committed_tokens`` is atomic with the commit point itself (it
      is written by the very ``os.replace`` that commits), so the
      pre/post call is mechanical and survives any number of later
      commits. The list doubles as the corpus's serialization witness:
      its order IS the order content-changing writers committed in
      (the concurrent writer-mix property test replays it).

    After the replace, the stamped manifest is also appended to
    ``_manifest_history/manifest_{token}.json`` and the history pruned
    to the manifests whose tokens remain in ``committed_tokens``'s
    tail (r13, VERDICT r12 #8) — history is diagnostic, written after
    the commit point, and never load-bearing for recovery.

    Returns the stamped dict so callers return exactly what they
    committed."""
    prior_tokens: list[str] = []
    try:
        with open(os.path.join(out_dir, MANIFEST)) as f:
            prior_tokens = list(json.load(f).get("committed_tokens", []))
    except (FileNotFoundError, json.JSONDecodeError, OSError):
        pass  # first commit / legacy manifest: start the log here
    manifest = {
        **manifest,
        "writer_token": token,
        "committed_tokens": (
            [t for t in prior_tokens if t != token] + [token]
        )[-COMMITTED_TOKENS_KEEP:],
    }
    _atomic_manifest_replace(out_dir, manifest)
    hist = os.path.join(out_dir, MANIFEST_HISTORY)
    try:
        os.makedirs(hist, exist_ok=True)
        with open(os.path.join(hist, f"manifest_{token}.json"), "w") as f:
            json.dump(manifest, f, sort_keys=True)
        keep = {
            f"manifest_{t}.json"
            for t in manifest["committed_tokens"][-MANIFEST_HISTORY_KEEP:]
        }
        for name in os.listdir(hist):
            if name not in keep:
                os.unlink(os.path.join(hist, name))
    except OSError as e:
        # the history mirror is diagnostic, written AFTER the commit
        # point — its failure must not fail a commit that already
        # happened, but it must not be SILENT either (r14, ADVICE r13
        # #3: a swallowed failure here makes a later
        # corpus_changes_since(token) for this genuinely committed
        # token report 'never committed or pruned' — a misleading
        # diagnosis — and diagnose_corpus silently loses the commit
        # from forensics). Mark the RETURNED manifest (the committed
        # file cannot change — it is already the commit) and warn, so
        # the operator can distinguish a lost history entry from a
        # pruned one.
        import warnings

        warnings.warn(
            f"corpus manifest history write failed for commit {token} "
            f"({e}) — the commit itself is durable, but "
            f"corpus_changes_since({token!r}) and diagnose_corpus will "
            "not see this commit in the history; CDC consumers should "
            "resync from a retained manifest",
            RuntimeWarning,
            stacklevel=2,
        )
        manifest = {**manifest, "history_write_failed": str(e)}
    return manifest


def set_corpus_retention(out_dir: str, keep_versions: int) -> None:
    """Enable/disable version retention (r14 time travel).

    ``keep_versions=K`` (>0): every maintenance/merge writer RETIRES the
    originals it displaces (``_retired_{token}/``) instead of destroying
    them, so the last K committed versions stay readable via
    :func:`pin_corpus_version`; :func:`expire_corpus_versions` (run
    standalone or by ``vacuum_corpus``) destroys bytes once no retained
    version can reference them. ``keep_versions=0`` disables retention
    (the default): displaced bytes are destroyed at end-of-op, exactly
    the pre-r14 behavior.

    The pinnable window is additionally bounded by the manifest history
    (:data:`MANIFEST_HISTORY_KEEP` commits) — the history manifest is
    where a version's file list lives, so ``K`` beyond 16 retains bytes
    no pin can name.

    COMPLIANCE NOTE: with retention on, a committed
    ``delete_from_corpus`` / ``redact_column_from_corpus`` is a
    SOFT delete — the taken-down bytes survive in ``_retired_*`` until
    they age past the horizon or ``vacuum_corpus(purge_versions=True)``
    destroys every retired version. Right-to-be-forgotten finality on a
    retention-enabled corpus is takedown + purge, the same contract as
    any snapshot-retaining table format."""
    path = os.path.join(out_dir, RETENTION)
    if keep_versions <= 0:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(path)
        return
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"keep_versions": int(keep_versions)}, f)
    os.replace(tmp, path)


def get_corpus_retention(out_dir: str) -> int:
    """The corpus's ``keep_versions`` setting; 0 == disabled."""
    try:
        with open(os.path.join(out_dir, RETENTION)) as f:
            return int(json.load(f).get("keep_versions", 0))
    except (FileNotFoundError, json.JSONDecodeError, OSError, ValueError):
        return 0


def _expiry_time_ns(token: str) -> int:
    """Commit order proxy embedded in every token ('{pid}-{time_ns}')
    for version expiry. Unparseable tokens sort OLDEST (0) so expiry
    treats them as past any horizon rather than retaining them forever
    (unlike :func:`_token_time_ns`, which reports them as unknown)."""
    try:
        return int(token.rsplit("-", 1)[1])
    except (IndexError, ValueError):
        return 0


def _finish_swap_cleanup(out_dir: str, leftovers) -> None:
    """End-of-op disposal of a completed swap's (staging, trash) dirs.

    Staging is always dropped (never-committed bytes). Trash — the
    displaced ORIGINALS of the version this op replaced — is dropped
    when retention is off, or atomically renamed to
    ``_retired_{token}`` (same filesystem, one rename) when retention
    is on, keeping prior committed versions' bytes findable for
    :func:`pin_corpus_version` / the pin machinery's displaced-file
    search. The token is recovered from the trash dir's own name, so
    every deferred-cleanup call site stays one line."""
    import shutil as _shutil

    for d in leftovers or ():
        base = os.path.basename(d)
        if base.startswith("_trash_") and get_corpus_retention(out_dir):
            token = base[len("_trash_"):]
            retired = os.path.join(out_dir, f"{RETIRED_PREFIX}{token}")
            try:
                if os.path.isdir(d) and os.listdir(d):
                    os.rename(d, retired)
                    continue
            except OSError:
                pass  # cross-op name collision etc.: fall through
        _shutil.rmtree(d, ignore_errors=True)


def _read_corpus(
    spark: SparkSession,
    out_dir: str,
    partition_cols: tuple[str, ...],
    schema_hint=None,
) -> DataFrame:
    """Corpus read-back with an EXPLICIT schema whose partition columns
    are STRING (r12, VERDICT r11 #4 — replaces the r11 session-global
    ``partitionColumnTypeInference`` conf flip, which briefly exposed
    inference-off semantics to unrelated concurrent readers in the same
    session). Rationale unchanged from r11 (ADVICE r10): a
    numeric-looking string partition value ('01') otherwise infers to
    ``int 1`` on read-back, and :func:`_pkey` then renders a manifest
    key ('source=1') that no longer matches the physical directory
    ('source=01') — and the staged swap and compaction's file-count
    glob both take key↔dir agreement as load-bearing. With the
    user-provided schema, Spark casts each parsed partition value to
    STRING — exactly the (unescaped) token it wrote into the directory
    name, with the Hive null token still mapping to NULL — so
    ``_pkey(read-back row)`` equals the physical layout by
    construction, and no session conf is touched (no cross-thread
    exposure, no lock). The data-column half of the schema comes from,
    in order (r12, schema evolution): ``schema_hint`` (writers pass
    the frame they just wrote — immune to a stale manifest during
    rebuilds), the committed manifest's recorded schema (the authority
    for an EVOLVED corpus, where pre-evolution files physically lack
    the newest columns and Spark null-fills them at scan), else ONE
    leaf file's parquet footer (legacy manifests; valid there because
    without evolution every corpus file shares the schema). Callers
    that union the read-back with typed user frames cast the partition
    columns back explicitly (upsert does)."""
    from pyspark.sql import types as T

    source = schema_hint or _manifest_schema(out_dir)
    if source is None:
        leaf = None
        for root, dirs, files in os.walk(out_dir):
            # committed partition dirs only: staging/trash/marker dirs
            # are underscore-prefixed (Spark's reader skips them too)
            dirs[:] = sorted(
                d for d in dirs if not d.startswith(("_", "."))
            )
            leaf = next(
                (
                    os.path.join(root, fn)
                    for fn in sorted(files)
                    if fn.endswith(".parquet")
                ),
                None,
            )
            if leaf:
                break
        if leaf is None:
            raise FileNotFoundError(
                f"_read_corpus: no committed parquet files under {out_dir}"
            )
        source = spark.read.parquet(leaf).schema
    data_fields = [f for f in source.fields if f.name not in partition_cols]
    full = T.StructType(
        data_fields
        + [T.StructField(c, T.StringType()) for c in partition_cols]
    )
    return spark.read.schema(full).parquet(out_dir)


def _partition_pred(
    partition_cols: tuple[str, ...], value_tuples: list[tuple]
):
    """Partition-pruning predicate over a string-schema read-back:
    every partition column is STRING there (see :func:`_read_corpus`),
    so values are compared via their directory rendering
    (:func:`_val_str`) — string-to-string, null-safe, and pushable as a
    partition filter (no cast wrapping the column, which would defeat
    pruning)."""
    pred = None
    for vals in value_tuples:
        clause = None
        for c, v in zip(partition_cols, vals):
            # null-safe: a NULL partition value must still select its
            # partition's existing rows, or the merged swap would
            # replace that partition with delta-only content
            eq = F.col(c).eqNullSafe(
                F.lit(None) if v is None else F.lit(_val_str(v))
            )
            clause = eq if clause is None else (clause & eq)
        pred = clause if pred is None else (pred | clause)
    return pred


def write_partitioned_corpus(
    df: DataFrame,
    out_dir: str,
    partition_cols: tuple[str, ...] = ("source",),
    max_records_per_file: int = 100_000,
) -> dict:
    """Write ``df`` partitioned by ``partition_cols`` with dynamic
    partition overwrite, then read back the committed files and write a
    manifest of per-partition row counts. Returns the manifest dict.

    Serializes on the per-corpus maintenance lease like every other
    writer (r09): a (re)build racing a concurrent upsert on the same
    directory is the same read-modify-write lost-update class the lease
    exists for — the build's read-back manifest would bless whichever
    writer's partitions landed last."""
    spark = df.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    with corpus_lease(out_dir, "build") as tok:
        check_lease(out_dir, tok)
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", str(max_records_per_file))
            .partitionBy(*partition_cols)
            .parquet(out_dir)
        )
        manifest = _manifest_from_files(
            spark, out_dir, partition_cols, schema_hint=df.schema
        )
        # the manifest records the corpus data schema (r12): the
        # authority evolved corpora are read with (see _read_corpus);
        # here it is simply the schema of the frame just written
        manifest["schema"] = json.loads(df.schema.json())
        check_lease(out_dir, tok)
        return _dump_manifest(out_dir, manifest, tok)


def _row_fingerprint_col(columns: list[str]):
    """The per-row hash the manifest's partition fingerprints aggregate
    (r13, changes-since CDC): ``xxhash64(to_json(struct(sorted cols)))``.
    ``to_json`` OMITS null fields, which is load-bearing — it makes the
    fingerprint stable across schema WIDENING: a partition untouched by
    an evolution reads back with the new column null-filled, serializes
    to exactly the JSON it produced before the column existed, and its
    recorded fingerprint stays valid without a rescan. Sorted column
    names make the hash independent of projection order; the explicit
    ``timeZone`` option pins timestamp rendering, so a corpus written
    under one session timezone still verifies under another (without
    it, ``to_json`` renders timestamps in ``spark.sql.session.timeZone``
    and a TZ-drifted verifier would false-negative every
    timestamp-carrying partition)."""
    return F.xxhash64(
        F.to_json(
            F.struct(*[F.col(c) for c in sorted(columns)]),
            {"timeZone": "UTC"},
        )
    )


def _manifest_from_files(
    spark: SparkSession,
    out_dir: str,
    partition_cols: tuple[str, ...],
    pred=None,
    schema_hint=None,
) -> dict:
    """Per-partition row counts AND content fingerprints from the
    committed files. With ``pred`` (a partition-column predicate) the
    read-back is PARTITION-PRUNED — only the matching partition
    directories are opened; upsert uses this so a delta merge never
    re-scans the whole corpus. The read carries the explicit
    string-partition schema (:func:`_read_corpus`) so the rendered keys
    match the physical directories even for numeric-looking string
    values; any ``pred`` must therefore compare STRING partition
    columns (:func:`_partition_pred`).

    Fingerprints (r13): per partition, ``[bit_xor(h), sum(pmod(h,
    2^31))]`` of the row hash (:func:`_row_fingerprint_col`) — the
    same order-independent multiplicity-sensitive pair the wire fake's
    epoch manifests use. They ride the same scan as the counts (no
    extra pass), are always computed from the STRING-partition
    read-back (so every recording site renders values identically),
    and power content-sensitive :func:`verify_manifest`, compaction's
    content-preservation check, and :func:`corpus_changes_since`."""
    back = _read_corpus(spark, out_dir, partition_cols, schema_hint)
    if pred is not None:
        back = back.filter(pred)
    rows = (
        back.withColumn("_h", _row_fingerprint_col(back.columns))
        .groupBy(*partition_cols)
        .agg(
            F.count("*").alias("count"),
            F.expr("bit_xor(_h)").alias("_x"),
            F.expr("sum(pmod(_h, 2147483648))").alias("_s"),
        )
        .collect()
    )  # bounded: one row per (matching) partition
    parts = {_pkey(partition_cols, r): r["count"] for r in rows}
    fps = {
        _pkey(partition_cols, r): [int(r["_x"]), int(r["_s"])]
        for r in rows
    }
    return {
        "partition_cols": list(partition_cols),
        "partitions": parts,
        "fingerprints": fps,
        # per-partition data-file names (r14, snapshot-isolated reads):
        # the committed manifest names the exact files of its version,
        # which is what pin_corpus_snapshot hard-links — metadata-only
        # (one listdir per scanned partition), riding the same call
        "files": _partition_files(out_dir, parts),
        "total_rows": sum(parts.values()),
    }


def _partition_files(out_dir: str, pkeys) -> dict:
    """Sorted committed data-file names per partition directory —
    the file-level version pointer a manifest records (r14): Spark's
    part-file names embed job/task UUIDs, so a name is globally unique
    across commits and a (pkey, name) pair identifies one immutable
    committed file forever (no writer ever modifies a data file in
    place — every write lands new files via the staged swap)."""
    out = {}
    for k in pkeys:
        try:
            names = os.listdir(os.path.join(out_dir, k))
        except FileNotFoundError:
            continue  # racing removal; the caller's counts govern
        out[k] = sorted(
            n for n in names
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
    return out


def upsert_corpus(
    delta: DataFrame,
    out_dir: str,
    key_cols: tuple[str, ...] = ("doc_id",),
    partition_cols: tuple[str, ...] = ("source",),
    max_records_per_file: int = 100_000,
    allow_schema_evolution: bool = False,
) -> dict:
    """Merge a delta batch into an existing partitioned corpus:
    delta rows REPLACE existing rows with the same key, new keys are
    appended — the batch upsert that keeps a living corpus current
    (the write-side complement of the delta-vs-corpus admission gate,
    ``operators/incremental.py``).

    Scale shape: only the partitions PRESENT IN THE DELTA are read
    (partition-pruned scan — the bounded partition list is the one
    driver-side collect) and only those partitions are swapped
    (staged commit); untouched partitions are never opened. The
    merge itself is one co-partitioned window on the key: delta rows
    win via a deterministic priority column, never a driver-side diff.

    Constraint (documented, standard for partition-scoped upserts): a
    key's partition-column value is assumed stable — provenance columns
    like ``source`` don't change for an existing doc. Moving a key
    across partitions requires rewriting both partitions explicitly.

    Write safety (r10): the merged frame is ``localCheckpoint``-ed and
    the commit is STAGED — the Spark write lands in a private staging
    dir, then a token-checked fence gates two renames per touched
    partition (:func:`_staged_swap_write`), so neither the write job
    nor a TTL break during it can clobber a successor's work. After the
    swap, the touched partitions' read-back counts are CHECKED against
    the pre-write plan's expected counts — a partial commit raises
    instead of being blessed into the manifest.

    Manifest refresh is INCREMENTAL: only the touched partitions are
    read back (partition-pruned scan) and their counts merged into the
    prior manifest — at 100 TB a delta merge costs O(delta partitions),
    never a whole-corpus scan. ``verify_manifest`` remains the full-scan
    consumer-side audit, where a full scan is the point.

    Concurrency contract (r09): every corpus writer is read-modify-write
    against the same partitions, so writers SERIALIZE on the per-corpus
    maintenance lease (:func:`corpus_lease`); a second concurrent writer
    raises :class:`MaintenanceLeaseHeld` instead of silently losing the
    first one's commit. Readers never block.

    Schema evolution (r12): with ``allow_schema_evolution=True`` a
    delta whose columns differ from the corpus schema WIDENS the
    corpus — new delta columns are appended to the schema (existing
    rows read back as NULL for them), and delta rows missing an
    existing column replace their keys with NULL there (a whole-row
    replacement, the documented delta-wins semantics; omitting a
    column is a data-erasing statement, which is why the flag is
    opt-in and a mismatch without it raises naming the exact column
    diff). Scale shape: NO data rewrite — the widened schema is
    recorded in the manifest (the read authority, see
    :func:`read_corpus`) and only the delta's partitions are
    rewritten as usual; files written before the evolution physically
    lack the new columns and Spark null-fills them at scan time, so
    evolving a 100 TB corpus costs exactly one ordinary upsert.
    Shared columns must keep the CORPUS's types (r13, ADVICE r12 #2):
    a delta column that upcasts losslessly (int into a bigint corpus,
    float into double) is cast up to the corpus type; any other type
    change raises, with or without the flag — evolution widens, it
    never retypes, because untouched partitions' files hold the old
    physical type and would break (or silently change type) under a
    coerced manifest schema.
    """
    with corpus_lease(out_dir, "upsert") as tok:
        return _upsert_corpus_locked(
            delta, out_dir, key_cols, partition_cols, max_records_per_file,
            tok, allow_schema_evolution,
        )


def retry_on_lease_held(
    op,
    max_wait_sec: float = 300.0,
    backoff_sec: float = 0.25,
    on_held=None,
):
    """Run ``op()`` to completion, waiting out :class:`MaintenanceLeaseHeld`
    with a bounded backoff — THE retry protocol for writers that must
    tolerate legitimate lease contention (one definition; the streaming
    upsert, the maintenance harness, and the contention tests all call
    this, so a future change to the wait semantics happens once).
    ``on_held`` (optional) is invoked with the exception on every held
    retry — metrics/diagnostics hook. Bounded: re-raises the last
    :class:`MaintenanceLeaseHeld` after ``max_wait_sec`` (a wedged
    lease must surface as a failure, not an infinite stall — the TTL
    break handles the crashed-holder case well before sensible
    bounds)."""
    deadline = time.monotonic() + max_wait_sec
    while True:
        try:
            return op()
        except MaintenanceLeaseHeld as e:
            if on_held is not None:
                on_held(e)
            if time.monotonic() > deadline:
                raise
            time.sleep(backoff_sec)


def upsert_corpus_retrying(
    delta: DataFrame,
    out_dir: str,
    max_wait_sec: float = 300.0,
    backoff_sec: float = 0.25,
    **kw,
) -> dict:
    """:func:`upsert_corpus` through :func:`retry_on_lease_held` —
    the continuous-ingest form (r10, found by the interleaved-
    maintenance decade VERDICT r09 #6 called for): a streaming upsert
    acquires the lease PER EPOCH, so compaction or layout clustering
    legitimately interleaving between micro-batches would otherwise
    make the next epoch's upsert raise and KILL the stream — pinned by
    tests/test_corpus_io.py::test_streaming_upsert_survives_interleaved_maintenance.
    A batch caller that wants fail-fast keeps calling
    :func:`upsert_corpus`."""
    return retry_on_lease_held(
        lambda: upsert_corpus(delta, out_dir, **kw),
        max_wait_sec=max_wait_sec,
        backoff_sec=backoff_sec,
    )


def _recovered_schema(
    spark: SparkSession, out_dir: str, partition_cols: tuple[str, ...]
):
    """Corpus data schema recovered from the FILES when the manifest is
    missing (crash between data commit and manifest dump): the
    ``mergeSchema`` union across every footer — the only correct width
    for a corpus that may have evolved, since any single footer may
    predate the newest columns. This is the recovery path, where a
    footer sweep is the correct price. Partition columns are recorded
    as STRING (their physically-known rendering; the typed originals
    died with the manifest)."""
    from pyspark.sql import types as T

    base = spark.read.option("mergeSchema", "true").parquet(out_dir).schema
    return T.StructType(
        [f for f in base.fields if f.name not in partition_cols]
        + [T.StructField(c, T.StringType()) for c in partition_cols]
    )


def _upsert_corpus_locked(
    delta: DataFrame,
    out_dir: str,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...],
    max_records_per_file: int,
    token: str,
    allow_schema_evolution: bool = False,
) -> dict:
    """Body of :func:`upsert_corpus`; the maintenance lease is held."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark = delta.sparkSession
    try:
        with open(os.path.join(out_dir, MANIFEST)) as f:
            prior = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        # missing/corrupt manifest (crash between data commit and
        # manifest dump): proceed with the merge and REBUILD the
        # manifest from a full read-back afterwards — the recovery
        # path, where a full scan is the correct price
        prior = None
    # with no manifest the read-back cannot trust a single footer (the
    # corpus may have evolved) — recover the union width from the files
    hint = (
        _recovered_schema(spark, out_dir, partition_cols)
        if prior is None
        else None
    )
    # ONE pass over the delta computes BOTH pre-merge facts (r14
    # optimization round, guide §2.4 — it was two full delta scans:
    # a distinct-partitions collect plus a separate duplicate-key
    # probe; at 100 TB each is a complete pass over the delta):
    # per-key counts carry the dup check, and the touched partition
    # combos ride along as collected structs (bounded by the number
    # of physical partitions, never by delta rows).
    _psets = delta.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count("*").alias("_c"),
        F.collect_set(
            F.struct(*[F.col(c) for c in partition_cols])
        ).alias("_ps"),
    )
    # every aggregate below PARTIALLY aggregates (max / collect_set
    # merge map-side), so the final reducer sees one bounded row per
    # task — never one row per delta key
    _summary = _psets.select(
        F.col("_c"),
        F.when(
            F.col("_c") > 1, F.struct(*[F.col(c) for c in key_cols])
        ).alias("_k"),
        F.explode("_ps").alias("_p"),
    ).agg(
        F.max("_c").alias("_maxc"),
        F.max("_k").alias("_dupkey"),
        F.collect_set("_p").alias("_touched"),
    ).collect()[0]
    touched = [
        tuple(t[c] for c in partition_cols) for t in _summary["_touched"]
    ]
    if not touched:  # empty delta: nothing to merge
        if prior is not None:
            return prior
        manifest = _manifest_from_files(
            spark, out_dir, partition_cols, schema_hint=hint
        )
        manifest["schema"] = json.loads(hint.json())
        return _dump_manifest(out_dir, manifest, token)
    # delta-wins needs ONE winner per key; two delta rows with the same
    # key would tie on _pri and the survivor would be shuffle-order
    # nondeterministic — refuse loudly instead of committing a coin flip
    if _summary["_maxc"] is not None and _summary["_maxc"] > 1:
        raise ValueError(
            "upsert_corpus: delta contains duplicate key "
            f"{tuple(_summary['_dupkey'])} — collapse the delta "
            "to one row per key (e.g. latest revision) before upserting"
        )
    pred = _partition_pred(partition_cols, touched)
    # string-schema read-back (string partition columns, matching the
    # string-rendered pred above); cast back to the delta's declared
    # types so unionByName merges type-identical frames
    existing = _read_corpus(spark, out_dir, partition_cols, hint).filter(pred)
    corpus_schema = existing.schema  # authority BEFORE the partition cast
    # shared columns must KEEP the CORPUS's types, with or without the
    # evolution flag (r13, ADVICE r12 #2 — the name-only extra/narrow
    # check let a same-width delta with a retyped column slip through:
    # unionByName silently coerces to the wider type, the coerced
    # schema becomes the manifest authority, and untouched partitions'
    # files — written with the old type — then fail or silently change
    # type at scan under the new explicit read schema). Evolution
    # WIDENS (adds columns); it never retypes. A delta column whose
    # type upcasts LOSSLESSLY to the corpus type (int delta into a
    # bigint corpus) is cast up here — the merge then carries exactly
    # the corpus type and the authority never moves; anything else
    # (corpus long vs delta double/string, any narrowing) raises.
    # Data columns compare against the read authority (_read_corpus:
    # hint / manifest / footer); partition columns — structurally
    # STRING in the read-back — compare against the manifest-recorded
    # typed schema.
    from pyspark.sql import types as T

    recorded = (
        T.StructType.fromJson(prior["schema"])
        if prior is not None and prior.get("schema") is not None
        else None
    )
    corpus_types = {
        f.name: f.dataType
        for f in corpus_schema.fields
        if f.name not in partition_cols
    }
    if recorded is not None:
        corpus_types.update(
            {c: recorded[c].dataType for c in partition_cols
             if c in set(recorded.names)}
        )
    retyped = []
    for c in delta.columns:
        want = corpus_types.get(c)
        have = delta.schema[c].dataType
        if want is None or want == have:
            continue
        pair = (have.simpleString(), want.simpleString())
        if pair in _LOSSLESS_UPCASTS:
            delta = delta.withColumn(c, F.col(c).cast(want))
        else:
            retyped.append((c, want.simpleString(), have.simpleString()))
    if retyped:
        raise ValueError(
            "upsert_corpus: shared column type change is not supported "
            "— schema evolution widens the corpus, it never retypes "
            "(untouched partitions' files hold the old physical type): "
            + ", ".join(
                f"{c}: corpus {old} vs delta {new}"
                for c, old, new in retyped
            )
            + " — cast the delta to the corpus type before upserting"
        )
    for c in partition_cols:
        existing = existing.withColumn(
            c, F.col(c).cast(delta.schema[c].dataType)
        )
    extra = [c for c in delta.columns if c not in set(existing.columns)]
    narrow = [c for c in existing.columns if c not in set(delta.columns)]
    if (extra or narrow) and not allow_schema_evolution:
        raise ValueError(
            "upsert_corpus: delta schema differs from the corpus "
            f"(delta-only columns {extra}, corpus-only columns {narrow})"
            " — pass allow_schema_evolution=True to widen the corpus"
            " (new columns read back NULL for existing rows; a delta"
            " missing an existing column REPLACES its keys' values"
            " there with NULL)"
        )
    merged = (
        delta.withColumn("_pri", F.lit(0))
        .unionByName(
            existing.withColumn("_pri", F.lit(1)),
            allowMissingColumns=allow_schema_evolution,
        )
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
                    "_pri"
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_pri", "_rn")
    ).localCheckpoint(eager=False)  # stable input, decoupled from out_dir
    # LAZY checkpoint (r14 optimization round): the per-partition count
    # below is merged's FIRST action, so it materializes the checkpoint
    # inside the same job — one pass computes state and counts where
    # eager paid a standalone materialization job first. Ordering is
    # unchanged: the checkpoint is fully materialized before
    # _staged_swap_write renames anything.
    expected = {
        _pkey(partition_cols, r): r["count"]
        for r in merged.groupBy(*partition_cols).count().collect()
    }
    check_lease(out_dir, token)  # fence: abort if TTL-broken mid-merge
    # staged commit (r10): the Spark write lands in a private staging
    # dir, the fence re-checks, and only then do per-partition renames
    # swap the result live — see _staged_swap_write. Cleanup deferred
    # past the manifest dump (r14, snapshot reads): the displaced
    # originals stay findable in trash until the new manifest commits,
    # so a pinning reader holding the PRIOR manifest can still link
    # that version's files throughout the swap->dump window.
    leftovers = _staged_swap_write(
        merged, out_dir, partition_cols, sorted(expected), token,
        max_records_per_file, defer_cleanup=True,
    )
    check_lease(out_dir, token)  # post-swap fence (see corpus_lease)
    back = _manifest_from_files(
        spark, out_dir, partition_cols, pred=pred,
        schema_hint=merged.schema,
    )
    if back["partitions"] != expected:
        raise RuntimeError(
            "upsert_corpus: post-write read-back does not match the "
            f"pre-write plan (expected {expected}, found "
            f"{back['partitions']}) — partial commit, manifest NOT "
            "updated"
        )
    if prior is not None:  # incremental: merge touched counts in
        parts = dict(prior["partitions"])
        parts.update(back["partitions"])
        # fingerprints merge the same way: untouched partitions carry
        # their recorded pair verbatim (valid across widening — see
        # _row_fingerprint_col), touched ones are recomputed from the
        # read-back; a legacy (pre-r13) manifest contributes none, so
        # the map may be partial — consumers treat absence as unknown
        fps = dict(prior.get("fingerprints", {}))
        fps.update(back["fingerprints"])
        # file lists merge identically (r14, snapshot reads): untouched
        # partitions' files are untouched by construction
        files = dict(prior.get("files", {}))
        files.update(back["files"])
        manifest = {
            "partition_cols": list(partition_cols),
            "partitions": parts,
            "fingerprints": fps,
            "files": files,
            "total_rows": sum(parts.values()),
        }
    else:  # recovery: rebuild from all committed files
        manifest = _manifest_from_files(
            spark, out_dir, partition_cols, schema_hint=merged.schema
        )
    # record the (possibly widened) schema — the read authority for an
    # evolved corpus, where untouched partitions' files physically lack
    # the newest columns (r12)
    manifest["schema"] = json.loads(merged.schema.json())
    check_lease(out_dir, token)  # fence the manifest dump as well
    manifest = _dump_manifest(out_dir, manifest, token)  # commit point
    import shutil as _shutil

    _finish_swap_cleanup(out_dir, leftovers)
    return manifest


def _staged_swap_write(
    merged: DataFrame,
    out_dir: str,
    partition_cols: tuple[str, ...],
    pkeys: list[str],
    token: str,
    max_records_per_file: int,
    may_vanish: frozenset[str] = frozenset(),
    defer_cleanup: bool = False,
) -> tuple[str, str] | None:
    """Token-checked staged commit for the read-modify-write writers
    (r10, the real fix for the r09 review's fence-then-write finding):
    write ``merged`` to a private underscore-prefixed staging dir
    (invisible to Spark's reader, like _SUCCESS), THEN fence, THEN swap
    the staged partition dirs into place with two renames per touched
    partition. Dynamic partition overwrite performs its destructive
    swap at Spark JOB COMMIT, which left the entire write job unguarded
    against a TTL break; here the Spark job clobbers nothing (staging
    is private), so the unguarded span shrinks to the renames —
    microseconds per partition instead of the whole job.

    Residuals (documented): a crash mid-swap leaves some partitions new
    and some old, with the replaced originals intact under the trash
    dir — :func:`recover_corpus` rolls the corpus back to the last
    committed state from exactly those leftovers (r11, VERDICT r10 #4);
    a PLAIN reader racing the swap can see a partition absent for one
    rename (same brief window dynamic overwrite's commit has) or a mix
    of two commits across partitions — readers that need one committed
    version pin it via :func:`pin_corpus_snapshot` (r14), which this
    residual no longer reaches (the pin links the manifest's named
    files from live-or-trash; cleanup is deferred past the manifest
    dump precisely so those files stay findable). A real deployment
    swaps a metastore pointer instead — this is the local-filesystem
    stand-in with the same protocol shape.

    Recovery markers: the swap list is dumped to ``_swaplist.json``
    inside staging before the fence (so recovery knows exactly which
    partitions the writer intended to touch), and the trash dir is
    created — empty — the moment the swap begins (so recovery can
    distinguish crash-during-write, where nothing live was touched,
    from crash-mid-swap)."""
    import shutil

    staging = os.path.join(out_dir, f"_staging_{token}")
    trash = os.path.join(out_dir, f"_trash_{token}")
    swapping = False
    try:
        (
            merged.write.mode("overwrite")
            .option("maxRecordsPerFile", str(max_records_per_file))
            .partitionBy(*partition_cols)
            .parquet(staging)
        )
        for pkey in pkeys:
            if not os.path.isdir(os.path.join(staging, pkey)):
                if pkey in may_vanish:
                    # declared removal (r12, delete_from_corpus): every
                    # row of this partition was deleted — the swap will
                    # displace the live dir into trash WITHOUT a staged
                    # replacement, which recovery rolls back like any
                    # displaced original
                    continue
                # otherwise a touched partition with no staged output
                # would LOSE data on swap; cannot happen for the merge
                # writers (the merged frame carries every touched
                # partition's rows)
                raise RuntimeError(
                    f"staged swap: no staged output for partition {pkey}"
                )
        with open(os.path.join(staging, SWAPLIST), "w") as f:
            json.dump(pkeys, f)
        # fence: the lease must still be ours ENTERING the swap — a
        # TTL-broken holder aborts here having touched nothing live
        check_lease(out_dir, token)
        swapping = True
        # marker: an (initially empty) trash dir means the swap began
        os.makedirs(trash, exist_ok=True)
        for pkey in pkeys:
            live = os.path.join(out_dir, pkey)
            if os.path.isdir(live):
                tdst = os.path.join(trash, pkey)
                os.makedirs(os.path.dirname(tdst), exist_ok=True)
                os.rename(live, tdst)
            else:  # new partition: ensure nested parents exist
                os.makedirs(os.path.dirname(live), exist_ok=True)
            if not os.path.isdir(os.path.join(staging, pkey)):
                continue  # declared removal (may_vanish): displace only
            os.rename(os.path.join(staging, pkey), live)
    except BaseException:
        if not swapping:
            # nothing live was touched: drop the private staging
            shutil.rmtree(staging, ignore_errors=True)
        # mid-swap failure: LEAVE staging + trash in place — the
        # replaced originals live under the trash dir for recovery
        raise
    if defer_cleanup:
        # r12 review: a writer that REMOVES partitions (delete's
        # may_vanish) must keep the displaced originals until its
        # manifest dump COMMITS the removal — dropping trash first
        # opens a crash window where the data is gone but the manifest
        # still lists it, which recovery could neither roll back (no
        # trash) nor reconcile. The caller dumps the manifest (stamped
        # with this token, see _dump_manifest) and then removes both
        # dirs; recover_corpus rolls leftovers FORWARD when the
        # committed manifest carries the same token.
        return staging, trash
    # success: dispose of the replaced originals (retire under
    # retention, destroy otherwise) and the staging leftovers
    _finish_swap_cleanup(out_dir, (staging, trash))
    return None


def recover_corpus(out_dir: str, spark: SparkSession | None = None) -> dict:
    """Crash recovery for a corpus left mid-commit by a killed writer
    (r11, VERDICT r10 #4): detect leftover ``_staging_{token}`` /
    ``_trash_{token}`` dirs and roll the corpus BACK to its last
    committed state — classic undo-log semantics. The crashed writer
    never published its manifest (the manifest dump is the commit
    point, after the swap), so the pre-crash state is the last
    CONSISTENT one; the failed operation is simply re-run afterwards
    (upsert re-applies its delta; compact/layout are content-preserving
    maintenance). Rolling the swap forward instead would publish data
    whose manifest update died with the writer — recovery would then
    have to reconstruct the writer's intent, for no benefit over a
    re-run.

    Per leftover token:

    - trash dir ABSENT: the crash hit during the Spark write or
      validation — nothing live was touched (staging is private);
      discard staging.
    - trash dir PRESENT: the swap had begun. For every partition in the
      staged ``_swaplist.json``: an original under trash is restored
      (replacing any swapped-in staged version), a partition still in
      staging was never swapped (live is the original), and a swap-list
      partition in NEITHER is judged by the COMMITTED MANIFEST (r12,
      VERDICT r11 #2): not in the manifest -> a NEW partition already
      swapped in, removed, since the pre-crash corpus did not have it;
      in the manifest -> already restored by an earlier recovery run
      that died mid-rollback, left as is. Without the manifest check a
      re-entered recovery would misread a restored original as
      swapped-in-new and DELETE it — the idempotency hole the
      crash-during-recovery pin exposed
      (``test_recover_corpus_idempotent_after_recovery_crash``). Then
      both dirs are discarded.

    Serializes on the maintenance lease like every writer. Note a
    freshly-crashed holder's lease may still be on disk un-expired —
    recovery then raises :class:`MaintenanceLeaseHeld` until the TTL
    passes (the same arbitration every writer gets; a crashed holder IS
    indistinguishable from a slow one until its TTL) — pinned
    cross-process by ``test_recover_corpus_after_sigkilled_writer``,
    which SIGKILLs a real mid-swap holder so nothing releases the
    lease, then recovers past the aged-out TTL.

    Roll FORWARD instead of back when the committed manifest carries
    the crashed writer's token (r12 review): a deferred-cleanup writer
    (``delete_from_corpus`` keeps its trash until the manifest dump
    commits the removals) that crashed AFTER its manifest dump leaves
    post-commit residue — rolling that back would resurrect data the
    committed manifest says is gone, so recovery just drops the
    leftover dirs (:func:`_dump_manifest` stamps every manifest with
    its writer's token to make the pre/post-commit call mechanical).

    With ``spark`` given, finishes with a full
    :func:`verify_manifest` read-back and raises on mismatch; without
    it, verifies every manifest partition directory exists. Returns
    ``{"discarded_staging": [tokens], "rolled_back": [tokens],
    "rolled_forward": [tokens], "restored": [pkeys],
    "removed_new": [pkeys]}``."""
    with corpus_lease(out_dir, "recover"):
        return _recover_corpus_locked(out_dir, spark)


def _recover_corpus_locked(
    out_dir: str, spark: SparkSession | None = None
) -> dict:
    """Body of :func:`recover_corpus`; the maintenance lease is held.
    Exposed as a locked body (r14, ADVICE r13 #4) so
    :func:`vacuum_corpus` can run recovery and its file sweep under ONE
    lease — the two-lease version had a gap between releasing the
    recover lease and acquiring the vacuum one, during which a takedown
    could start and crash, leaving residue the just-returned vacuum
    report would not mention."""
    import shutil

    report: dict = {
        "discarded_staging": [], "rolled_back": [], "rolled_forward": [],
        "restored": [], "removed_new": [],
    }
    try:
        with open(os.path.join(out_dir, MANIFEST)) as f:
            committed_manifest = json.load(f)
    except FileNotFoundError:
        raise RuntimeError(
            f"recover_corpus: {out_dir} has no committed manifest — "
            "either this is not a corpus directory, or the initial "
            "write_partitioned_corpus crashed between its data "
            "commit and its first manifest dump. Recovery needs the "
            "last committed manifest to classify leftovers; for a "
            "crashed initial build, re-run write_partitioned_corpus "
            "(it is a blind self-contained rebuild)"
        ) from None
    committed = set(committed_manifest["partitions"])
    tokens = sorted({
        name.split("_", 2)[2]
        for name in os.listdir(out_dir)
        if name.startswith(("_staging_", "_trash_"))
    })
    log = list(committed_manifest.get("committed_tokens", []))
    durably_committed = set(log) | {
        committed_manifest.get("writer_token")
    }
    for token in tokens:
        staging = os.path.join(out_dir, f"_staging_{token}")
        trash = os.path.join(out_dir, f"_trash_{token}")
        if token not in durably_committed and not _absence_is_proof(
            token, log
        ):
            # the commit log is SATURATED and this residue token is
            # not provably younger than the oldest retained entry
            # (r14, ADVICE r13 #1): its absence no longer proves it
            # never committed — a committed takedown's residue that
            # survived COMMITTED_TOKENS_KEEP subsequent commits
            # would have had its token PRUNED from the log, and
            # rolling it back here resurrects the taken-down data
            # (the exact bug the durable log exists to prevent,
            # re-opened at the log boundary). Tokens embed their
            # creation time ('{pid}-{time_ns}') and writers
            # serialize on the lease, so creation order ~ commit
            # order: a residue token YOUNGER than the oldest
            # retained log entry would still be in the log had it
            # committed (absence = proof, handled above); an OLDER
            # or unparseable one is ambiguous — raise for manual
            # inspection instead of guessing a roll direction.
            raise RuntimeError(
                f"recover_corpus: residue token {token!r} is absent "
                "from the SATURATED commit log of the last "
                f"{COMMITTED_TOKENS_KEEP} commits and is not "
                "provably younger than the oldest retained entry "
                "— it may be a committed writer's residue "
                "whose token was pruned, and rolling it back could "
                "resurrect taken-down data. Inspect "
                f"_staging_{token} / _trash_{token} by hand: if the "
                "live corpus verifies against the manifest "
                "(verify_manifest), the residue is post-commit — "
                "delete both dirs; otherwise restore the trash "
                "originals"
            )
        if token in durably_committed:
            # this writer's commit token is in the manifest's
            # durable commit log (r13, ADVICE r12 #1 — previously
            # only the LATEST writer_token was checked, so a
            # subsequent commit before recovery ran misclassified
            # stale post-commit residue as pre-commit and rolled
            # it BACK, resurrecting taken-down partitions): its
            # dump — the commit point — already happened, so these
            # leftovers are post-commit residue of a
            # deferred-cleanup writer (delete/redact keep their
            # trash until the manifest commits). Roll FORWARD:
            # complete the committed op's deferred cleanup exactly
            # as the writer would have (retire the displaced
            # originals under retention, destroy otherwise);
            # rolling back here would resurrect data the committed
            # manifest says is gone.
            _finish_swap_cleanup(out_dir, (staging, trash))
            report["rolled_forward"].append(token)
            continue
        if not os.path.isdir(trash):
            shutil.rmtree(staging, ignore_errors=True)
            report["discarded_staging"].append(token)
            continue
        slpath = os.path.join(staging, SWAPLIST)
        try:
            with open(slpath) as f:
                pkeys = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError, OSError) as e:
            raise RuntimeError(
                f"recover_corpus: {trash} exists but the swap list "
                f"{slpath} is unreadable ({e}) — the writer dumps it "
                "before any swap begins, so this is external "
                "corruption; inspect the trash/staging dirs by hand"
            ) from e
        for pkey in pkeys:
            live = os.path.join(out_dir, pkey)
            tdst = os.path.join(trash, pkey)
            if os.path.isdir(tdst):  # original displaced: restore it
                shutil.rmtree(live, ignore_errors=True)
                os.rename(tdst, live)
                report["restored"].append(pkey)
            elif os.path.isdir(os.path.join(staging, pkey)):
                pass  # never swapped — live still holds the original
            elif os.path.isdir(live) and pkey not in committed:
                # new partition already swapped in: the committed
                # manifest has no such partition, so the pre-crash
                # corpus had nothing here. The manifest check is
                # load-bearing (r12): a manifest partition in this
                # branch is an original RESTORED by a prior recovery
                # run that died mid-rollback — deleting it would
                # destroy committed data on re-entry.
                shutil.rmtree(live)
                report["removed_new"].append(pkey)
        shutil.rmtree(trash, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        report["rolled_back"].append(token)
    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    missing = [
        k for k in manifest["partitions"]
        if not os.path.isdir(os.path.join(out_dir, k))
    ]
    if missing:
        raise RuntimeError(
            f"recover_corpus: manifest partitions missing on disk "
            f"after rollback: {missing}"
        )
    if spark is not None and not verify_manifest(spark, out_dir):
        raise RuntimeError(
            "recover_corpus: post-rollback read-back does not match "
            "the manifest — the leftovers did not account for the "
            "divergence; inspect the corpus by hand"
        )
    if report["rolled_back"] or report["rolled_forward"]:
        # self-heal the manifest's file lists (r14, snapshot reads): a
        # compact/layout crash between its file-list rewrite and its
        # cleanup gets rolled BACK here (content-preserving, so the
        # restored originals are correct), leaving lists that name the
        # discarded staged files — after any roll, the live dirs ARE
        # the committed version, so relisting them restores
        # list<->disk agreement. listdir-only, O(partitions).
        _rewrite_manifest_files(out_dir, list(manifest["partitions"]))
    return report


def vacuum_corpus(
    out_dir: str,
    spark: SparkSession | None = None,
    ttl_sec: float = LEASE_TTL_SEC,
    purge_versions: bool = False,
) -> dict:
    """Reclaim every byte of crash residue — the maintenance op that
    CLOSES the right-to-be-forgotten loop (r13, VERDICT r12 #3): after
    a crashed :func:`delete_from_corpus` / :func:`redact_column_from_corpus`,
    the taken-down rows' bytes persist in ``_trash_{token}`` until
    someone runs recovery; a compliance deadline needs an operator
    that guarantees they are GONE, not one that happens to drop them
    as a side effect.

    Two phases under ONE maintenance lease (r14, ADVICE r13 #4 — the
    two-lease version released the recover lease before acquiring the
    vacuum one, and a takedown starting and crashing in that gap left
    residue the just-returned report did not mention, weakening the
    single-invocation post-condition below):

    1. :func:`recover_corpus` — classifies every leftover
       staging/trash token against the manifest's durable commit log
       and rolls it back (pre-commit: restores the last committed
       state, which legitimately still CONTAINS rows whose takedown
       never committed — re-run the takedown) or forward (post-commit:
       drops the residue, including a committed takedown's trashed
       bytes). A fresh crashed holder's un-expired lease makes this
       raise :class:`MaintenanceLeaseHeld` — vacuum must never sweep
       under a possibly-live writer.
    2. stray-FILE sweep: lease/manifest temp and aside files
       (``_corpus_lease.json.*``, ``_corpus_manifest.json.tmp``) older
       than ``ttl_sec`` — the droppings of crashed acquirers/breakers
       that recovery's dir-level rollback never looks at. Age-gated so
       a live writer's in-flight temp file is never swept.

    Post-condition (pinned byte-level by
    ``tests/test_corpus_io.py::test_vacuum_closes_right_to_be_forgotten_byte_loop``):
    once every takedown has committed, no removed row's bytes survive
    anywhere under the corpus root — on a RETENTION-ENABLED corpus
    (r14, :func:`set_corpus_retention`) this requires
    ``purge_versions=True``, which destroys every retired version's
    bytes; the default vacuum expires only versions past the
    ``keep_versions`` horizon (:func:`expire_corpus_versions`, run as
    phase 3 under the same single lease). Returns the recovery report
    plus ``{"swept_files": [names], "versions": expiry report}``."""
    import shutil as _shutil

    swept: list[str] = []
    with corpus_lease(out_dir, "vacuum", ttl_sec=ttl_sec):
        report = _recover_corpus_locked(out_dir, spark)
        report["versions"] = expire_corpus_versions(
            out_dir, purge_all=purge_versions, _locked=True
        )
        now = time.time()
        for name in sorted(os.listdir(out_dir)):
            path = os.path.join(out_dir, name)
            if name.startswith("_pin_"):
                # aged snapshot pins from crashed/leaked readers (r14):
                # a pin holds hard links that keep old versions' bytes
                # alive, so a leaked pin is both a space leak and an
                # RTBF hazard — sweep past the TTL (a live reader's
                # pin is younger by construction; pins are transient)
                with contextlib.suppress(OSError):
                    if now - os.path.getmtime(path) > ttl_sec:
                        _shutil.rmtree(path, ignore_errors=True)
                        swept.append(name)
                continue
            if not (
                name.startswith(LEASE + ".")
                or name == MANIFEST + ".tmp"
            ):
                continue
            with contextlib.suppress(OSError):
                if os.path.isfile(path) and (
                    now - os.path.getmtime(path) > ttl_sec
                ):
                    os.unlink(path)
                    swept.append(name)
    report["swept_files"] = swept
    return report


def _parse_pkey(partition_cols: tuple[str, ...], pkey: str) -> tuple:
    """Inverse of :func:`_pkey`: 'source=web/split=train' -> values,
    with the Hive null token mapped back to None and the escaping
    undone ('/' is always escaped inside values, so the split is
    unambiguous)."""
    vals = []
    for part, col in zip(pkey.split("/"), partition_cols):
        k, _, v = part.partition("=")
        assert k == col, (pkey, partition_cols)
        vals.append(None if v == HIVE_NULL else _hive_unescape(v))
    return tuple(vals)


def compact_corpus(
    spark: SparkSession,
    out_dir: str,
    partition_cols: tuple[str, ...] = ("source",),
    target_rows_per_file: int = 100_000,
) -> dict:
    """Small-file compaction — the corpus MAINTENANCE operator a living
    100 TB corpus needs: streaming ingest and per-shard upserts each
    leave a few files per touched partition, and after enough epochs a
    partition holds hundreds of KB-sized files whose per-file open/footer
    cost dominates every scan. Rewrites ONLY the partitions whose file
    count exceeds what their row count needs (ceil(rows /
    target_rows_per_file)), leaving every other partition's files
    byte-untouched.

    Scale shape: the work list comes from the manifest + a directory
    listing (no data scan); the rewrite reads a partition-PRUNED scan of
    just the fragmented partitions, repartitions by the partition
    columns (one task -> one file per partition, with
    ``maxRecordsPerFile`` re-splitting past the target), and commits via
    the staged token-checked swap — the same idempotent, localCheckpoint-
    decoupled write discipline as :func:`upsert_corpus`. Content is
    preserved exactly: the post-write pruned read-back counts are
    CHECKED against the manifest (which does not change) and a mismatch
    raises instead of blessing a partial commit.

    Concurrency contract (r09): serializes on the per-corpus maintenance
    lease (:func:`corpus_lease`) — a compaction running concurrently
    with an upsert on the same corpus would commit its pre-upsert
    ``localCheckpoint`` snapshot over the upsert's partitions (the
    lost-update pinned by tests/test_corpus_io.py); with the lease the
    second writer raises :class:`MaintenanceLeaseHeld` instead.
    """
    with corpus_lease(out_dir, "compact") as tok:
        return _compact_corpus_locked(
            spark, out_dir, partition_cols, target_rows_per_file, tok
        )


def _compact_corpus_locked(
    spark: SparkSession,
    out_dir: str,
    partition_cols: tuple[str, ...],
    target_rows_per_file: int,
    token: str,
) -> dict:
    """Body of :func:`compact_corpus`; the maintenance lease is held."""
    import glob as _glob

    from pyspark.sql import functions as F

    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    plan = []
    for pkey, rows in manifest["partitions"].items():
        pdir = os.path.join(out_dir, pkey)
        nf = len(_glob.glob(os.path.join(pdir, "*.parquet")))
        need = max(1, -(-rows // target_rows_per_file))
        if nf > need:
            plan.append(pkey)
    if not plan:
        return {"compacted": [], "manifest": manifest}
    # _parse_pkey values are already the directory-rendered strings, so
    # they compare directly against the string-schema read-back
    pred = _partition_pred(
        partition_cols, [_parse_pkey(partition_cols, k) for k in plan]
    )
    # LAZY input (r14 optimization round, extending VERDICT r13 #2's
    # layout/redact treatment to compaction): the staged write lands in
    # a private staging dir and the source partition dirs are untouched
    # until the post-job renames, so the write job (and any task retry)
    # re-reads stable committed files; ``merged`` is consumed by exactly
    # ONE job, so the eager checkpoint materialized the fragmented
    # partitions to executor-local storage just to read them straight
    # back — a pure extra pass.
    merged = _read_corpus(spark, out_dir, partition_cols).filter(pred)
    if EAGER_REWRITE_CHECKPOINT:  # r13-compat arm for the decade A/B
        merged = merged.localCheckpoint(eager=True)
    check_lease(out_dir, token)  # fence: abort if TTL-broken mid-snapshot
    # cleanup deferred past the file-list rewrite (r14, snapshot reads):
    # the displaced originals stay findable in trash until the manifest
    # names the new files, so a pinning reader racing this rewrite can
    # always link the manifest's version — live or trash
    leftovers = _staged_swap_write(
        merged.repartition(*[F.col(c) for c in partition_cols]),
        out_dir, partition_cols, plan, token, target_rows_per_file,
        defer_cleanup=True,
    )
    check_lease(out_dir, token)  # post-swap fence (see corpus_lease)
    back = _manifest_from_files(spark, out_dir, partition_cols, pred=pred)
    expected = {k: manifest["partitions"][k] for k in plan}
    if back["partitions"] != expected:
        raise RuntimeError(
            "compact_corpus: post-write read-back does not match the "
            f"manifest (expected {expected}, found {back['partitions']})"
            " — partial commit"
        )
    _check_content_preserved("compact_corpus", manifest, back, plan)
    check_lease(out_dir, token)
    manifest = _rewrite_manifest_files(out_dir, plan)
    import shutil as _shutil

    _finish_swap_cleanup(out_dir, leftovers)
    return {"compacted": plan, "manifest": manifest}


def _check_content_preserved(
    op: str, manifest: dict, back: dict, pkeys
) -> None:
    """Content-preservation fence for the maintenance rewriters (r13):
    compaction and layout clustering promise to change LAYOUT, never
    content — with per-partition fingerprints in the manifest that
    promise is now CHECKED, not just count-checked (a rewrite that
    mangled a row while keeping the row count used to pass). Compares
    only partitions whose fingerprint the manifest recorded (legacy
    pre-r13 manifests carry none)."""
    recorded = manifest.get("fingerprints", {})
    bad = [
        k for k in pkeys
        if k in recorded and back["fingerprints"].get(k) != recorded[k]
    ]
    if bad:
        raise RuntimeError(
            f"{op}: post-write content fingerprints diverge from the "
            f"manifest for partitions {bad} — the rewrite did not "
            "preserve content; partial/corrupt commit"
        )


def cluster_corpus_layout(
    spark: SparkSession,
    out_dir: str,
    cluster_col: str = "doc_id",
    partition_cols: tuple[str, ...] = ("source",),
    target_rows_per_file: int = 100_000,
) -> dict:
    """Range-cluster the corpus files on ``cluster_col`` — the data-
    LAYOUT lever for 100 TB scans: after ingest/upserts, each file spans
    nearly the whole key range, so a key-range predicate (a doc_id
    slice, a time band) opens every file. Rewriting with
    ``repartitionByRange(partition_cols + cluster_col)`` +
    ``sortWithinPartitions`` gives every committed file a narrow,
    pairwise-disjoint min/max range on ``cluster_col`` (parquet
    file/row-group statistics), so Spark's parquet reader skips the
    row groups — and a format with file-level stats pruning skips the
    files — that a range predicate cannot match.

    Content-preserving like :func:`compact_corpus`: staged-swap
    commit, post-write counts checked against the (unchanged) manifest;
    a mismatch raises. Cost: one range-sampling pass + one full read +
    range-shuffle + write of the corpus — the classic offline OPTIMIZE
    job, run at much lower frequency than compaction. The input is
    LAZY (r14, VERDICT r13 #2): the staged swap already decouples the
    read from the path being rewritten (the Spark job lands in a
    private staging dir; source files are untouched until the post-job
    renames), so the r10-era eager ``localCheckpoint`` — a corpus-sized
    copy to executor-local disk that roughly doubled the rewrite's I/O
    — was no longer buying any safety and is gone; the x1000-decade
    A/B is in SCALING_DECADE2.md.

    Concurrency contract (r09): serializes on the per-corpus maintenance
    lease (:func:`corpus_lease`), exactly like :func:`compact_corpus` —
    a full-corpus snapshot-rewrite is the widest possible lost-update
    window against a concurrent upsert."""
    with corpus_lease(out_dir, "layout") as tok:
        return _cluster_corpus_layout_locked(
            spark, out_dir, cluster_col, partition_cols,
            target_rows_per_file, tok,
        )


def _cluster_corpus_layout_locked(
    spark: SparkSession,
    out_dir: str,
    cluster_col: str,
    partition_cols: tuple[str, ...],
    target_rows_per_file: int,
    token: str,
) -> dict:
    """Body of :func:`cluster_corpus_layout`; the lease is held."""
    from pyspark.sql import functions as F

    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    total = manifest["total_rows"]
    n = max(1, -(-total // target_rows_per_file))
    # LAZY input (r14, VERDICT r13 #2): the r10-era eager
    # localCheckpoint here predated the staged swap and materialized
    # the ENTIRE corpus to executor-local disk before the rewrite — a
    # corpus-sized extra write that roughly doubled the job's I/O at
    # scale. It is no longer load-bearing: the staged write lands in a
    # private staging dir and the source partition dirs are untouched
    # until the post-job renames, so every task (and any task retry)
    # re-reads stable committed files; ``merged`` is consumed by
    # exactly one job (repartitionByRange's sampling pass plus the
    # write — two scans of the source parquet, still cheaper than
    # checkpoint write + two checkpoint reads). A/B at the x1000
    # decade: SCALING_DECADE2.md (r14).
    merged = _read_corpus(spark, out_dir, partition_cols)
    if EAGER_REWRITE_CHECKPOINT:  # r13-compat arm for the decade A/B
        merged = merged.localCheckpoint(eager=True)
    check_lease(out_dir, token)  # fence: abort if TTL-broken mid-plan
    cols = [F.col(c) for c in partition_cols] + [F.col(cluster_col)]
    # cleanup deferred past the file-list rewrite (r14) — see
    # _compact_corpus_locked for the pinning-reader rationale
    leftovers = _staged_swap_write(
        merged.repartitionByRange(n, *cols).sortWithinPartitions(*cols),
        out_dir, partition_cols, sorted(manifest["partitions"]), token,
        target_rows_per_file, defer_cleanup=True,
    )
    check_lease(out_dir, token)  # post-swap fence (see corpus_lease)
    back = _manifest_from_files(spark, out_dir, partition_cols)
    if back["partitions"] != manifest["partitions"]:
        raise RuntimeError(
            "cluster_corpus_layout: post-write read-back does not match "
            f"the manifest (expected {manifest['partitions']}, found "
            f"{back['partitions']}) — partial commit"
        )
    _check_content_preserved(
        "cluster_corpus_layout", manifest, back,
        sorted(manifest["partitions"]),
    )
    check_lease(out_dir, token)
    manifest = _rewrite_manifest_files(
        out_dir, sorted(manifest["partitions"])
    )
    import shutil as _shutil

    _finish_swap_cleanup(out_dir, leftovers)
    return {"range_tasks": n, "manifest": manifest}


def delete_from_corpus(
    spark: SparkSession,
    out_dir: str,
    condition,
    partition_cols: tuple[str, ...] = ("source",),
    max_records_per_file: int = 100_000,
) -> dict:
    """Predicate delete — the takedown operator a living training
    corpus needs (right-to-be-forgotten requests, licensing pulls,
    contaminated-source retractions): remove every row where
    ``condition`` is TRUE (a Column or SQL string over the corpus as
    :func:`read_corpus` types it), rewriting ONLY the partitions that
    contain matches. Rows where the condition evaluates NULL are KEPT
    (a takedown must name its rows; three-valued-logic surprises must
    not silently widen it).

    Scale shape: one partition-pruned-free pass computes per-partition
    match counts (one bounded row per matching partition to the
    driver); survivors are then read back PARTITION-PRUNED to just the
    matching partitions, and the staged token-checked swap replaces
    only those — a partition whose every row matched is REMOVED
    (displaced into trash with no staged replacement, which crash
    recovery rolls back like any displaced original; the manifest dump
    after the swap is the commit point, exactly like upsert). Cost is
    O(matching partitions), never a corpus rewrite; the initial match
    scan is one full read, the price of an arbitrary predicate —
    callers with partition-column predicates get that scan pruned by
    Spark automatically.

    Serializes on the per-corpus maintenance lease like every writer.
    Returns ``{"deleted_rows", "removed_partitions", "manifest"}``."""
    with corpus_lease(out_dir, "delete") as tok:
        return _delete_from_corpus_locked(
            spark, out_dir, condition, partition_cols,
            max_records_per_file, tok,
        )


def _delete_from_corpus_locked(
    spark: SparkSession,
    out_dir: str,
    condition,
    partition_cols: tuple[str, ...],
    max_records_per_file: int,
    token: str,
) -> dict:
    """Body of :func:`delete_from_corpus`; the lease is held."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cond = F.expr(condition) if isinstance(condition, str) else condition
    with open(os.path.join(out_dir, MANIFEST)) as f:
        prior = json.load(f)

    def _typed(df):
        if prior.get("schema") is not None:
            sch = T.StructType.fromJson(prior["schema"])
            for c in partition_cols:
                df = df.withColumn(c, F.col(c).cast(sch[c].dataType))
        return df

    raw = _read_corpus(spark, out_dir, partition_cols)
    hits = (
        _typed(raw).filter(cond)
        .groupBy(*partition_cols).count().collect()
    )  # bounded: one row per matching partition
    if not hits:
        return {
            "deleted_rows": 0, "removed_partitions": [],
            "manifest": prior,
        }
    touched_vals = [tuple(r[c] for c in partition_cols) for r in hits]
    del_counts = {_pkey(partition_cols, r): int(r["count"]) for r in hits}
    pred = _partition_pred(partition_cols, touched_vals)
    # survivors: the pruned scan of just the matching partitions, minus
    # the TRUE-condition rows (NULL-condition rows survive, see above)
    merged = (
        _typed(raw.filter(pred))
        .filter(~F.coalesce(cond, F.lit(False)))
        .localCheckpoint(eager=False)
    )
    # LAZY checkpoint: the survivor count below is merged's first
    # action and materializes it in the same job (see upsert)
    expected = {
        _pkey(partition_cols, r): r["count"]
        for r in merged.groupBy(*partition_cols).count().collect()
    }
    removed = sorted(k for k in del_counts if k not in expected)
    check_lease(out_dir, token)  # fence: abort if TTL-broken mid-plan
    # cleanup DEFERRED past the manifest dump (r12 review): the
    # displaced originals must survive until the removal is committed,
    # or a crash in between strands a manifest that lists partitions
    # no longer on disk (see _staged_swap_write / recover_corpus)
    leftovers = _staged_swap_write(
        merged, out_dir, partition_cols, sorted(del_counts), token,
        max_records_per_file, may_vanish=frozenset(removed),
        defer_cleanup=True,
    )
    check_lease(out_dir, token)  # post-swap fence
    back = _manifest_from_files(
        spark, out_dir, partition_cols, pred=pred,
        schema_hint=merged.schema,
    )
    if back["partitions"] != expected:
        raise RuntimeError(
            "delete_from_corpus: post-write read-back does not match "
            f"the survivor plan (expected {expected}, found "
            f"{back['partitions']}) — partial commit, manifest NOT "
            "updated"
        )
    parts = dict(prior["partitions"])
    fps = dict(prior.get("fingerprints", {}))
    files = dict(prior.get("files", {}))
    for k, n_del in del_counts.items():
        if k in expected:
            parts[k] = expected[k]
            if k in back["fingerprints"]:
                fps[k] = back["fingerprints"][k]
            if k in back["files"]:
                files[k] = back["files"][k]
        else:
            parts.pop(k, None)
            fps.pop(k, None)
            files.pop(k, None)
    manifest = {
        "partition_cols": list(partition_cols),
        "partitions": parts,
        "fingerprints": fps,
        "files": files,
        "total_rows": sum(parts.values()),
    }
    if prior.get("schema") is not None:  # deletes never change schema
        manifest["schema"] = prior["schema"]
    check_lease(out_dir, token)  # fence the manifest dump as well
    manifest = _dump_manifest(out_dir, manifest, token)  # commit point
    import shutil as _shutil

    _finish_swap_cleanup(out_dir, leftovers)
    return {
        "deleted_rows": sum(del_counts.values()),
        "removed_partitions": removed,
        "manifest": manifest,
    }


def redact_column_from_corpus(
    spark: SparkSession,
    out_dir: str,
    column: str,
    max_records_per_file: int = 100_000,
) -> dict:
    """Column-level takedown (r13, VERDICT r12 #2) — the third
    compliance shape after row deletes and schema widening: purge a
    COLUMN corpus-wide (a PII field that should never have been
    collected, a licensing pull on one modality). Every partition is
    rewritten WITHOUT ``column`` through the same lease + staged
    token-checked swap as every writer, and the manifest schema is
    NARROWED — the first narrowing evolution (widening adds columns
    with scan-time null fill; narrowing must physically rewrite,
    because the bytes being removed are the point).

    Scale shape: one full read + write of the corpus — the honest
    price of physically destroying a column's bytes (column pruning
    means the scan side reads only what it keeps: the rewrite READS
    corpus-minus-column, never the doomed column itself). Partition
    dirs swap one at a time; a crash mid-swap rolls back via
    :func:`recover_corpus` (manifest/schema unchanged until the dump,
    so rollback restores a consistent pre-redact corpus and the
    redact is re-run). Cleanup is DEFERRED past the manifest dump
    exactly like :func:`delete_from_corpus`: the displaced originals
    — which still HOLD the redacted bytes — stay in trash until the
    narrowed manifest commits, then are dropped; a crash in between
    is post-commit residue the durable commit log rolls forward.
    Run :func:`vacuum_corpus` afterwards to certify no residue bytes
    survive.

    Refuses to redact a partition column (it is the layout) — drop it
    by rewriting the corpus with different ``partition_cols`` instead.
    Returns ``{"redacted_column", "manifest"}``."""
    with corpus_lease(out_dir, "redact") as tok:
        return _redact_column_locked(
            spark, out_dir, column, max_records_per_file, tok
        )


def _redact_column_locked(
    spark: SparkSession,
    out_dir: str,
    column: str,
    max_records_per_file: int,
    token: str,
) -> dict:
    """Body of :func:`redact_column_from_corpus`; the lease is held."""
    import shutil as _shutil

    with open(os.path.join(out_dir, MANIFEST)) as f:
        prior = json.load(f)
    partition_cols = tuple(prior["partition_cols"])
    if column in partition_cols:
        raise ValueError(
            f"redact_column_from_corpus: {column!r} is a partition "
            "column — the corpus layout, not data; rewrite the corpus "
            "with different partition_cols instead"
        )
    back = _read_corpus(spark, out_dir, partition_cols)
    if column not in back.columns:
        raise ValueError(
            f"redact_column_from_corpus: corpus has no column "
            f"{column!r} (columns: {sorted(back.columns)})"
        )
    # column pruning: the rewrite plan never reads the doomed column.
    # LAZY input (r14, VERDICT r13 #2): no eager localCheckpoint — the
    # staged write reads the stable committed files (untouched until
    # the post-job renames) in its one and only consuming job, so the
    # corpus-sized executor-local snapshot the checkpoint paid for
    # bought nothing; see _cluster_corpus_layout_locked for the A/B.
    merged = back.drop(column)
    if EAGER_REWRITE_CHECKPOINT:  # r13-compat arm for the decade A/B
        merged = merged.localCheckpoint(eager=True)
    pkeys = sorted(prior["partitions"])
    check_lease(out_dir, token)  # fence: abort if TTL-broken mid-read
    leftovers = _staged_swap_write(
        merged, out_dir, partition_cols, pkeys, token,
        max_records_per_file, defer_cleanup=True,
    )
    check_lease(out_dir, token)  # post-swap fence
    fresh = _manifest_from_files(
        spark, out_dir, partition_cols, schema_hint=merged.schema
    )
    if fresh["partitions"] != prior["partitions"]:
        raise RuntimeError(
            "redact_column_from_corpus: post-write read-back does not "
            f"match the manifest (expected {prior['partitions']}, "
            f"found {fresh['partitions']}) — partial commit, manifest "
            "NOT updated"
        )
    manifest = {
        "partition_cols": list(partition_cols),
        "partitions": dict(prior["partitions"]),
        # every partition was rewritten without the column: every
        # fingerprint is recomputed (the content DID change)
        "fingerprints": fresh["fingerprints"],
        "files": fresh["files"],
        "total_rows": prior["total_rows"],
    }
    if prior.get("schema") is not None:  # narrow the schema authority
        manifest["schema"] = {
            **prior["schema"],
            "fields": [
                fld for fld in prior["schema"]["fields"]
                if fld["name"] != column
            ],
        }
    check_lease(out_dir, token)  # fence the manifest dump as well
    manifest = _dump_manifest(out_dir, manifest, token)  # commit point
    _finish_swap_cleanup(out_dir, leftovers)
    return {"redacted_column": column, "manifest": manifest}


def file_column_ranges(dir_path: str, column: str) -> list[tuple]:
    """(min, max) of ``column`` per parquet file under ``dir_path``,
    from footer statistics only (no data read) — the evidence surface
    for layout clustering (and exactly the stats a pruning reader
    uses)."""
    import glob as _glob

    import pyarrow.parquet as _pq

    out = []
    for p in sorted(_glob.glob(os.path.join(dir_path, "*.parquet"))):
        md = _pq.ParquetFile(p).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == column and col.statistics:
                    st = col.statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        out.append((lo, hi))
    return out


def verify_manifest(spark: SparkSession, out_dir: str) -> bool:
    """True iff the manifest on disk matches a fresh read-back — the
    consumer-side integrity check before a corpus is used. Since r13
    the check is CONTENT-sensitive, not just count-sensitive: every
    recorded per-partition fingerprint must match the recomputation
    (a corrupted or swapped file with the right row count used to
    verify). Fingerprints recorded before an evolution stay valid —
    the row hash serializes through ``to_json``, which omits the
    null-filled new columns (see :func:`_row_fingerprint_col`).
    Legacy manifests without fingerprints keep the count-only check."""
    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    fresh = _manifest_from_files(
        spark, out_dir, tuple(manifest["partition_cols"])
    )
    recorded = manifest.get("fingerprints", {})
    return (
        fresh["partitions"] == manifest["partitions"]
        and fresh["total_rows"] == manifest["total_rows"]
        and all(
            fresh["fingerprints"].get(k) == v
            for k, v in recorded.items()
        )
    )


def diagnose_corpus(spark: SparkSession, out_dir: str) -> dict:
    """Commit forensics over the manifest history (r13, the second
    half of VERDICT r12 #8: history exists so a bad commit is
    DIAGNOSABLE — this is the diagnosis): recompute every partition's
    content fingerprint and, for each partition that diverges from the
    current manifest, walk the history newest-to-oldest to name the
    LAST COMMIT whose recorded fingerprint matches the bytes on disk —
    i.e. which writer's commit the corruption postdates. Read-only
    (no lease: a diagnosis must be runnable while writers are wedged);
    one distributed scan plus bounded history-file reads. Because it
    takes no lease, racing a LIVE writer mid-swap can show transient
    divergence on the partitions being swapped — re-run on a quiescent
    corpus (or hold the lease around the call) before acting on a
    report taken next to an active writer.

    Returns ``{"ok": bool, "diverged": {pkey: {"expected", "found",
    "last_matching_token": token-or-None, "count_expected",
    "count_found"}}, "history_tokens": [tokens newest-first]}`` —
    ``last_matching_token=None`` means no retained commit ever
    recorded these bytes (corruption, or the history window passed)."""
    with open(os.path.join(out_dir, MANIFEST)) as f:
        manifest = json.load(f)
    partition_cols = tuple(manifest["partition_cols"])
    fresh = _manifest_from_files(spark, out_dir, partition_cols)
    recorded_p = manifest["partitions"]
    recorded_f = manifest.get("fingerprints", {})
    hist_dir = os.path.join(out_dir, MANIFEST_HISTORY)
    history: list[tuple[str, dict]] = []
    order = list(reversed(manifest.get("committed_tokens", [])))
    for tok in order:  # newest first, in the manifest's own order
        try:
            with open(
                os.path.join(hist_dir, f"manifest_{tok}.json")
            ) as f:
                history.append((tok, json.load(f)))
        except (FileNotFoundError, json.JSONDecodeError, OSError):
            continue  # pruned past the retention window
    diverged: dict = {}
    for k in set(recorded_p) | set(fresh["partitions"]):
        exp_n = recorded_p.get(k)
        got_n = fresh["partitions"].get(k)
        exp_f = recorded_f.get(k)
        got_f = fresh["fingerprints"].get(k)
        if exp_n == got_n and (exp_f is None or exp_f == got_f):
            continue
        last = next(
            (
                tok for tok, m in history
                if m.get("fingerprints", {}).get(k) == got_f
                and m["partitions"].get(k) == got_n
            ),
            None,
        )
        diverged[k] = {
            "expected": exp_f,
            "found": got_f,
            "count_expected": exp_n,
            "count_found": got_n,
            "last_matching_token": last,
        }
    return {
        "ok": not diverged,
        "diverged": diverged,
        "history_tokens": [tok for tok, _ in history],
    }


def read_corpus(
    spark: SparkSession, out_dir: str, _partition_pred=None,
    _manifest: dict | None = None,
) -> DataFrame:
    """The consumer-side corpus reader (r12, schema evolution): read
    the committed files under the MANIFEST's recorded schema — the only
    schema authority once a corpus has evolved, because files written
    before an evolution physically lack the newest columns (a plain
    ``spark.read.parquet`` samples one footer and silently drops or
    never sees them; ``mergeSchema`` pays a footer sweep per read).
    Partition columns are cast back to their manifest-recorded types,
    so the frame round-trips the writer's typed schema exactly. Legacy
    manifests (no schema field, pre-r12) fall back to the
    single-footer read, valid there because a never-evolved corpus has
    one schema.

    ``_manifest`` (internal): an already-loaded manifest snapshot to
    read under instead of re-reading the file — callers that diff or
    report against a specific manifest (``corpus_changes_since``) pass
    the one they diffed, so the returned frame's schema/pruning cannot
    drift to a NEWER commit than the report (r14, ADVICE r13 #2)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    manifest = _manifest
    if manifest is None:
        with open(os.path.join(out_dir, MANIFEST)) as f:
            manifest = json.load(f)
    partition_cols = tuple(manifest["partition_cols"])
    df = _read_corpus(spark, out_dir, partition_cols)
    if _partition_pred is not None:
        # internal (corpus_changes_since): a string-rendered partition
        # predicate applied BEFORE the typed cast, so it prunes at the
        # scan exactly like the writers' pruned read-backs
        df = df.filter(_partition_pred)
    if manifest.get("schema") is not None:
        recorded = T.StructType.fromJson(manifest["schema"])
        for c in partition_cols:
            df = df.withColumn(c, F.col(c).cast(recorded[c].dataType))
        df = df.select(*[f.name for f in recorded.fields])
    return df


class SnapshotPinError(RuntimeError):
    """pin_corpus_snapshot could not assemble a consistent snapshot
    within its deadline (a maintenance writer wedged mid-commit, or
    the manifest's file lists are stale after an unrecovered crash —
    run recover_corpus, or fall back to a plain read_corpus)."""


class _PinRace(Exception):
    """Internal: a concurrent commit moved files mid-pin; retry."""


class CorpusSnapshot:
    """A pinned, self-describing view of ONE committed corpus version
    (r14, VERDICT r13 #1 — snapshot-isolated reads). ``pin_dir`` holds
    hard links to exactly the data files the pinned manifest named
    (plus a copy of that manifest), so the snapshot stays readable —
    bytes and all — no matter how many maintenance swaps, deletes, or
    redactions commit after the pin: hard links keep the inodes alive
    even after the writer's cleanup unlinks the original names.
    ``read`` returns the typed frame under the PINNED schema; the pin
    directory also satisfies :func:`verify_manifest` directly (the
    racing-reader property test's oracle)."""

    def __init__(self, out_dir: str, pin_dir: str, manifest: dict):
        self.out_dir = out_dir
        self.pin_dir = pin_dir
        self.manifest = manifest

    def read(self, spark: SparkSession) -> DataFrame:
        """The pinned version's typed frame — schema, partition types,
        and content all from the pinned commit, regardless of what has
        committed since. Collect before the pin context exits (the
        exit drops the links)."""
        return read_corpus(spark, self.pin_dir, _manifest=self.manifest)


@contextlib.contextmanager
def pin_corpus_snapshot(
    out_dir: str,
    max_wait_sec: float = 60.0,
    backoff_sec: float = 0.05,
):
    """Snapshot-isolated corpus read (r14, VERDICT r13 #1): yield a
    :class:`CorpusSnapshot` of exactly one committed version, immune
    to every concurrent maintenance writer. Closes the documented
    reader-vs-swap residual: a plain reader racing
    ``_staged_swap_write`` can see a partition absent for one rename,
    or a MIX of two commits across partitions; a pinned reader sees
    the one version its manifest committed, atomically.

    Protocol (optimistic, reader-only — takes NO lease, blocks NO
    writer, needs NO writer cooperation beyond manifests recording
    their file lists):

    1. read the current manifest M (atomic: manifests publish via
       ``os.replace``);
    2. hard-link every data file M names (``files``) from the live
       partition dirs — or, if a racing swap already displaced them,
       from the swapper's ``_trash_*`` dir (writers defer trash
       cleanup past their manifest dump since r14, so M's files are
       findable in live-or-trash throughout the swap->dump window) —
       into a private ``_pin_{token}`` dir mirroring the partition
       layout;
    3. any file findable in neither place means a commit landed
       mid-pin: drop the partial pin, re-read the manifest, retry
       (bounded by ``max_wait_sec``, then :class:`SnapshotPinError`).

    Soundness: Spark part-file names embed job UUIDs, so a (pkey,
    name) pair denotes one immutable committed file forever — every
    successfully-linked file IS the file M committed, wherever it was
    linked from, and a fully-linked pin is therefore exactly M's
    version with no cross-partition mixing. Data files are never
    modified in place (all writers stage + rename), so the links are
    true snapshots. Legacy manifests without file lists fall back to
    a listdir-based pin revalidated by manifest-token equality.

    Scale shape: pinning is O(files) driver-side metadata (hard
    links), the local-filesystem stand-in for an object-store/
    metastore snapshot pointer — the same substitution the lease and
    the staged swap already make; the data itself is never copied.
    The pin lives under the corpus root (same filesystem, hidden from
    plain scans by the underscore prefix); exiting the context drops
    it, and :func:`vacuum_corpus` sweeps aged pins from crashed
    readers."""
    import shutil as _shutil

    token = f"{os.getpid()}-{time.time_ns()}"
    pin_dir = os.path.join(out_dir, f"_pin_{token}")
    deadline = time.monotonic() + max_wait_sec
    while True:
        manifest = _current_manifest(out_dir)
        try:
            _link_snapshot(out_dir, pin_dir, manifest)
            break
        except _PinRace as e:
            _shutil.rmtree(pin_dir, ignore_errors=True)
            if time.monotonic() > deadline:
                raise SnapshotPinError(
                    f"pin_corpus_snapshot: could not assemble a "
                    f"consistent snapshot of {out_dir} within "
                    f"{max_wait_sec}s (last race: {e}) — a maintenance "
                    "writer may be wedged mid-commit or a crash left "
                    "stale file lists; run recover_corpus, or fall "
                    "back to read_corpus"
                ) from e
            time.sleep(backoff_sec)
    try:
        yield CorpusSnapshot(out_dir, pin_dir, manifest)
    finally:
        _shutil.rmtree(pin_dir, ignore_errors=True)


def _link_snapshot(out_dir: str, pin_dir: str, manifest: dict) -> None:
    """Hard-link ``manifest``'s named data files into ``pin_dir``
    (live dirs first, any ``_trash_*`` as the mid-swap fallback) and
    drop a copy of the manifest inside, making the pin dir a
    self-describing corpus readable by :func:`read_corpus` /
    :func:`verify_manifest`. Raises :class:`_PinRace` if any named
    file is findable nowhere (a commit landed mid-pin — retry with a
    fresh manifest)."""
    recorded = manifest.get("files")
    os.makedirs(pin_dir, exist_ok=True)
    for pkey in manifest["partitions"]:
        src_dir = os.path.join(out_dir, pkey)
        names = None if recorded is None else recorded.get(pkey)
        if names is None:
            # legacy manifest (no file lists): listdir-based pin,
            # revalidated below by manifest-token equality
            try:
                names = sorted(
                    n for n in os.listdir(src_dir)
                    if n.endswith(".parquet")
                    and not n.startswith(("_", "."))
                )
            except FileNotFoundError:
                raise _PinRace(f"partition dir vanished: {pkey}") from None
        dst_dir = os.path.join(pin_dir, pkey)
        os.makedirs(dst_dir, exist_ok=True)
        for name in names:
            dst = os.path.join(dst_dir, name)
            try:
                os.link(os.path.join(src_dir, name), dst)
                continue
            except FileNotFoundError:
                pass
            # racing swap: the manifest's file may be displaced into
            # the swapper's trash (writers defer trash cleanup past
            # their manifest dump) — or, under version retention,
            # into a _retired_ dir. Same name, same immutable bytes
            # wherever it is found.
            for tname in sorted(os.listdir(out_dir)):
                if not tname.startswith(("_trash_", RETIRED_PREFIX)):
                    continue
                try:
                    os.link(os.path.join(out_dir, tname, pkey, name), dst)
                    break
                except FileNotFoundError:
                    continue
            else:
                raise _PinRace(f"file not found live, in trash, or "
                               f"retired: {pkey}/{name}")
    if recorded is None:
        # listdir-based pins have no name-level version proof: accept
        # only if no commit moved the manifest while we linked
        if (
            _current_manifest(out_dir).get("writer_token")
            != manifest.get("writer_token")
        ):
            raise _PinRace("manifest moved during legacy (listdir) pin")
    with open(os.path.join(pin_dir, MANIFEST), "w") as f:
        json.dump(manifest, f, sort_keys=True)


class VersionUnavailableError(RuntimeError):
    """pin_corpus_version: the requested version's manifest or bytes no
    longer exist (history pruned past MANIFEST_HISTORY_KEEP, retention
    disabled when the displacing op ran, expiry past the keep_versions
    horizon, or vacuum_corpus(purge_versions=True))."""


def _pin_race_state(out_dir: str) -> tuple:
    """Cheap observable state a concurrent mover would change: the
    committed manifest token, whether a LIVE (unexpired) maintenance
    lease exists, and the corpus root's entry set minus other readers'
    ``_pin_*`` dirs (every writer-side move creates/destroys a
    ``_stage_*`` / ``_trash_*`` / ``_retired_*`` entry or the lease
    file). Used by :func:`pin_corpus_version` to tell a TERMINAL miss
    (bytes destroyed — state identical across a failed link attempt,
    nobody holding the lease) from a transient mid-swap race worth
    retrying."""
    lease_live = False
    try:
        with open(os.path.join(out_dir, LEASE)) as f:
            held = json.load(f)
        lease_live = time.time() - float(held.get("acquired_at", 0)) <= float(
            held.get("ttl_sec", LEASE_TTL_SEC)
        )
    except (FileNotFoundError, json.JSONDecodeError, ValueError, OSError):
        pass
    try:
        entries = tuple(sorted(
            n for n in os.listdir(out_dir) if not n.startswith("_pin_")
        ))
    except FileNotFoundError:
        entries = ()
    token = None
    with contextlib.suppress(Exception):
        token = _current_manifest(out_dir).get("writer_token")
    return (token, lease_live, entries)


@contextlib.contextmanager
def pin_corpus_version(
    out_dir: str,
    token: str,
    max_wait_sec: float = 10.0,
    backoff_sec: float = 0.05,
):
    """Time travel (r14): pin and read the corpus AS OF the commit
    ``token`` — any of the last :data:`MANIFEST_HISTORY_KEEP` commits
    whose bytes version retention (:func:`set_corpus_retention`) has
    kept alive. Yields the same :class:`CorpusSnapshot` as
    :func:`pin_corpus_snapshot`; ``snapshot.read(spark)`` returns the
    HISTORICAL version's typed frame under the historical schema
    (pre-evolution columns, pre-delete rows, pre-redaction bytes).

    Composition, not new machinery: the version's identity is its
    stamped manifest in ``_manifest_history/`` (r13) + the exact
    per-partition file names that manifest recorded (r14); the bytes
    are wherever those immutable files now live — live partition dirs
    (files the version shares with the present), a racing swapper's
    ``_trash_*``, or the ``_retired_*`` dirs retention preserves. The
    same live-or-displaced hard-link walk the snapshot pin uses
    (:func:`_link_snapshot`) assembles the version; part-file names
    embed job UUIDs, so every linked (pkey, name) pair is the
    version's own immutable file wherever it was found.

    Failure modes are all terminal :class:`VersionUnavailableError`
    (after a short retry that absorbs a concurrent live->trash->retired
    rename): an unknown/pruned token (older than the 16-commit
    history), a pre-r14 manifest without file lists, or bytes already
    destroyed (retention off at displacement time, expiry, purge).

    Scale shape: O(files of one version) driver-side metadata, data
    never copied — the local-FS stand-in for reading an object-store
    table at a retained snapshot pointer."""
    import shutil as _shutil

    hist = os.path.join(out_dir, MANIFEST_HISTORY, f"manifest_{token}.json")
    try:
        with open(hist) as f:
            manifest = json.load(f)
    except FileNotFoundError:
        raise VersionUnavailableError(
            f"pin_corpus_version: no history manifest for commit "
            f"{token!r} in {out_dir} — it either never committed here "
            f"or was pruned past the last {MANIFEST_HISTORY_KEEP} "
            "commits; time travel reaches at most the manifest-history "
            "window"
        ) from None
    if manifest.get("files") is None:
        raise VersionUnavailableError(
            f"pin_corpus_version: commit {token!r} predates per-"
            "partition file lists (pre-r14 manifest) — without them a "
            "historical version has no name-level identity to pin"
        )
    pin_token = f"{os.getpid()}-{time.time_ns()}"
    pin_dir = os.path.join(out_dir, f"_pin_{pin_token}")
    deadline = time.monotonic() + max_wait_sec
    while True:
        state_before = _pin_race_state(out_dir)
        try:
            _link_snapshot(out_dir, pin_dir, manifest)
            break
        except _PinRace as e:
            _shutil.rmtree(pin_dir, ignore_errors=True)
            # Terminal-miss fast path (r14 optimization round): a retry
            # can only ever succeed if some writer is concurrently
            # moving this version's files (live->trash->retired). Every
            # such mover holds the maintenance lease and its renames
            # create/destroy root-level entries, so if NO live lease
            # exists and the observable state is IDENTICAL before and
            # after the failed link attempt, the miss is stable: the
            # bytes were destroyed (expiry/purge/retention-off) and
            # burning the remaining deadline cannot change the outcome.
            # Measured: the purge-finality negative pin in
            # corpus_time_travel dropped from max_wait_sec (10 s) to
            # milliseconds; a pin racing a LIVE writer still retries
            # (lease held => not stable).
            state_after = _pin_race_state(out_dir)
            stable = (
                not state_before[1]
                and not state_after[1]
                and state_before == state_after
            )
            if stable or time.monotonic() > deadline:
                raise VersionUnavailableError(
                    f"pin_corpus_version: commit {token!r}'s bytes are "
                    f"not fully findable in {out_dir} ({e}) — the "
                    "displacing writer ran with retention disabled, or "
                    "the version aged past the keep_versions horizon "
                    "(expire_corpus_versions / vacuum purge_versions). "
                    "Destroyed versions are unrecoverable by design"
                ) from e
            time.sleep(backoff_sec)
    try:
        yield CorpusSnapshot(out_dir, pin_dir, manifest)
    finally:
        _shutil.rmtree(pin_dir, ignore_errors=True)


def expire_corpus_versions(
    out_dir: str,
    purge_all: bool = False,
    ttl_sec: float = LEASE_TTL_SEC,
    _locked: bool = False,
) -> dict:
    """Destroy retired version bytes past the retention horizon (r14)
    — the ``expire_snapshots`` / ``VACUUM horizon`` half of time
    travel, without which retention is an unbounded space leak.

    Horizon rule: with ``keep_versions=K``, a ``_retired_{t}`` dir is
    droppable when ``t``'s embedded time_ns is OLDER than the K-th-
    newest entry of the durable commit log — files displaced by a
    commit older than the K-th-newest can only belong to versions
    older than every retained one. Content-preserving rewrites
    (compact/layout retire under their own ephemeral, never-committed
    tokens) are covered by the same timestamp comparison: their
    retired bytes are needed exactly as long as some retained version
    predates the rewrite. Conservative by construction — expiry keeps
    at least what the last K versions need, possibly one displacement
    more.

    ``purge_all=True`` destroys EVERY retired dir regardless of
    horizon — the compliance switch: takedown finality on a
    retention-enabled corpus is delete/redact + purge. With retention
    DISABLED (the default), all retired dirs are droppable residue of
    a previously-enabled retention period.

    Runs under the maintenance lease (it destroys bytes; never race a
    writer's in-flight retire rename); ``vacuum_corpus`` calls the
    ``_locked`` form inside its own single lease."""

    def _expire() -> dict:
        keep = get_corpus_retention(out_dir)
        horizon_ns = None
        if keep and not purge_all:
            try:
                with open(os.path.join(out_dir, MANIFEST)) as f:
                    log = json.load(f).get("committed_tokens", [])
            except (FileNotFoundError, json.JSONDecodeError, OSError):
                log = []
            if len(log) >= keep:
                horizon_ns = _expiry_time_ns(log[-keep])
            else:
                horizon_ns = 0  # fewer commits than K: keep everything
        expired, kept = [], []
        import shutil as _shutil

        for name in sorted(os.listdir(out_dir)):
            if not name.startswith(RETIRED_PREFIX):
                continue
            t_ns = _expiry_time_ns(name[len(RETIRED_PREFIX):])
            if purge_all or not keep or t_ns < horizon_ns:
                _shutil.rmtree(
                    os.path.join(out_dir, name), ignore_errors=True
                )
                expired.append(name)
            else:
                kept.append(name)
        return {"expired": expired, "kept": kept, "keep_versions": keep}

    if _locked:
        return _expire()
    with corpus_lease(out_dir, "expire", ttl_sec=ttl_sec):
        return _expire()


def corpus_changes_since(
    spark: SparkSession, out_dir: str, since_token: str
) -> dict:
    """Incremental (CDC-style) consumer read (r13): everything that
    changed since the commit ``since_token`` — the question every
    downstream incremental pipeline (index refresh, embedding
    backfill, mirror sync) asks a corpus. Returns ``{"changed":
    [pkeys], "removed": [pkeys], "df": DataFrame, "from": token,
    "to": current writer_token}`` where ``df`` is the CURRENT content
    of the changed partitions (typed, partition-pruned scan — cost is
    O(changed partitions), never a corpus scan).

    Mechanism: the commit at ``since_token`` left its stamped manifest
    in ``_manifest_history/``; diff its per-partition (count,
    fingerprint) against the current manifest. The fingerprint makes
    the diff SOUND for replacement-only upserts, which keep counts
    identical — a count-only diff under-reports exactly the delta-wins
    merges this corpus is built on. Change detection is at partition
    granularity (the unit every writer commits at); a partition with a
    missing fingerprint on either side (legacy manifests) is reported
    changed — conservative over-reporting, never under-reporting.

    Retention contract: the history keeps the manifests of the last
    :data:`MANIFEST_HISTORY_KEEP` commits — an incremental consumer
    must poll within that window; an unknown/pruned token raises
    ``ValueError`` telling it to resync instead — either
    :func:`corpus_changes_vs_manifest` with its own retained manifest
    (still O(changed), r14) or a full :func:`read_corpus` (the same
    contract every log-compacted CDC source has).

    Consistency (r14, ADVICE r13 #2): the diff, the report, and the
    returned frame's schema/pruning all derive from ONE read of the
    current manifest (the 'to' snapshot) — a writer committing between
    the two manifest opens can no longer make them mutually
    inconsistent. Like every reader, this takes NO lease: the returned
    frame is lazy, and a maintenance swap committing before it is
    collected can race the scan (the same residual every reader has —
    see ``_staged_swap_write``); a consumer that needs a collected
    snapshot consistent with the report materializes the frame via
    :func:`pin_corpus_snapshot` or collects on a quiescent corpus,
    exactly as :func:`diagnose_corpus` documents."""
    hist = os.path.join(
        out_dir, MANIFEST_HISTORY, f"manifest_{since_token}.json"
    )
    try:
        with open(hist) as f:
            old = json.load(f)
    except FileNotFoundError:
        raise ValueError(
            f"corpus_changes_since: no history manifest for token "
            f"{since_token!r} — it either never committed here or was "
            f"pruned past the last {MANIFEST_HISTORY_KEEP} commits; "
            "resync via corpus_changes_vs_manifest(consumer_manifest) "
            "(O(changed)) or fall back to a full read_corpus"
        ) from None
    with open(os.path.join(out_dir, MANIFEST)) as f:
        new = json.load(f)
    return _changes_between(spark, out_dir, old, new, since_token)


def corpus_changes_vs_manifest(
    spark: SparkSession, out_dir: str, consumer_manifest: dict
) -> dict:
    """Fingerprint resync for a CDC consumer past the retention cliff
    (r14, VERDICT r13 #7): :func:`corpus_changes_since` raises once a
    consumer falls more than :data:`MANIFEST_HISTORY_KEEP` commits
    behind (its token's history manifest was pruned) — but a consumer
    that RETAINED its own last-seen manifest (every writer returns the
    stamped dict it committed; ``read``-side consumers can copy the
    manifest file) never needs the history at all: the per-partition
    (count, fingerprint) pairs in ITS manifest diff against the
    current one exactly like a history snapshot would. Same O(changed
    partitions) cost, same report shape, arbitrarily stale consumers
    — the token path is just the convenience form for consumers that
    kept only a token.

    Hash-equivalence with the token path is pinned by
    ``tests/test_corpus_io.py``: a consumer whose token was pruned
    resyncs via its manifest and gets the identical changed/removed
    sets and frame."""
    return _changes_between(
        spark, out_dir, consumer_manifest,
        _current_manifest(out_dir),
        consumer_manifest.get("writer_token"),
    )


def _current_manifest(out_dir: str) -> dict:
    with open(os.path.join(out_dir, MANIFEST)) as f:
        return json.load(f)


def _diff_partitions(old: dict, new: dict) -> tuple:
    """Metadata-only (count, fingerprint) diff of two stamped manifests
    -> (changed, removed, schema_changed). Shared by the batch CDC
    readers (:func:`_changes_between`) and the streaming CDC source
    (``sources/corpus_cdc.py``), which diffs HISTORY manifest pairs
    per micro-batch. Schema changes are a CORPUS-level signal, not a
    per-partition one: a widening rewrites nothing (untouched
    partitions' fingerprints stay valid and they are correctly NOT
    reported changed — their visible rows only gained a null-filled
    column), but an incremental consumer still needs to know its
    target schema moved — surfaced explicitly."""
    old_p, new_p = old["partitions"], new["partitions"]
    schema_changed = old.get("schema") != new.get("schema")
    old_f = old.get("fingerprints", {})
    new_f = new.get("fingerprints", {})
    changed = sorted(
        k for k in new_p
        if k not in old_p
        or old_p[k] != new_p[k]
        or old_f.get(k) is None
        or old_f.get(k) != new_f.get(k)
    )
    removed = sorted(k for k in old_p if k not in new_p)
    return changed, removed, schema_changed


def _changes_between(
    spark: SparkSession, out_dir: str, old: dict, new: dict, from_token
) -> dict:
    """Shared diff body of :func:`corpus_changes_since` /
    :func:`corpus_changes_vs_manifest`: per-partition (count,
    fingerprint) diff of two stamped manifests + a partition-pruned
    typed read of the changed set under the 'to' snapshot."""
    changed, removed, schema_changed = _diff_partitions(old, new)
    partition_cols = tuple(new["partition_cols"])
    if changed:
        pred = _partition_pred(
            partition_cols,
            [_parse_pkey(partition_cols, k) for k in changed],
        )
        df = read_corpus(
            spark, out_dir, _partition_pred=pred, _manifest=new
        )
    else:
        df = read_corpus(spark, out_dir, _manifest=new).limit(0)
    return {
        "changed": changed,
        "removed": removed,
        "schema_changed": schema_changed,
        "df": df,
        "from": from_token,
        "to": new.get("writer_token"),
    }


# ---------------------------------------------------------------------------
# Oracle-paired write-path roundtrip
# ---------------------------------------------------------------------------

def q_corpus_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the WRITE path — the one surface that
    was previously pytest-only: build a partitioned corpus from
    ``documents``, upsert a deterministic delta (every 7th doc's text
    updated, a new doc appended per 50th), then read the COMMITTED FILES
    back and return ``(doc_id, source, h)``. The DuckDB oracle computes
    the identical delta-wins merge relationally from the same inputs, so
    the driver's hash compare certifies the bytes that actually went
    through ``write_partitioned_corpus`` -> ``upsert_corpus`` (dynamic
    partition overwrite, null-safe pruning predicate, checkpointed merge,
    post-write count check, incremental manifest) — not a plan that
    mimics them."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_rt_")
    write_partitioned_corpus(docs, out)
    upsert_corpus(_delta_from_docs(docs), out)
    return spark.read.parquet(out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


# Writes and reads real files during plan construction — the plan cache
# must re-run the builder per call (plancache.py).
q_corpus_upsert_roundtrip.stateful_build = True


def _delta_from_docs(docs: DataFrame) -> DataFrame:
    """The roundtrip's deterministic delta (every 7th doc's text updated,
    a new doc appended per 50th) over ANY (doc_id, text, source)
    relation — shared by the batch roundtrip and the streaming twin so
    the two write paths merge literally the same rows."""
    from pyspark.sql import functions as F

    return (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.concat(F.lit("UPD: "), F.col("text")).alias("text"),
            "source",
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 50 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"),
                F.concat(F.lit("NEW: "), F.col("text")).alias("text"),
                "source",
            )
        )
    )


def q_corpus_upsert_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the upsert roundtrip (VERDICT r07 #8): the
    delta ARRIVES AS A STREAM and merges through ``upsert_corpus``
    inside ``foreachBatch`` — one delta-wins merge per epoch against
    the living corpus, the continuous-ingest form of the batch upsert.

    Semantics: per-key replacement is idempotent and epoch-composable —
    any split of the delta across micro-batches (and any epoch
    redelivery after recovery: the same rows re-replace the same keys)
    converges to the batch merge's final state, so the BATCH roundtrip
    oracle applies verbatim. State: none in the stream itself (the
    corpus on disk is the state); each epoch's cost is O(delta
    partitions) via the upsert's pruned read-back, exactly like the
    batch path. The multi-epoch split and the redelivery are pinned by
    tests (tests/test_corpus_io.py). Each epoch merges through
    :func:`upsert_corpus_retrying` (r10): maintenance interleaving
    between micro-batches holds the lease legitimately, and the stream
    must wait it out, not die on MaintenanceLeaseHeld."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir
    from ..streaming.jobs import run_bounded, stream_documents

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_rts_")
    write_partitioned_corpus(docs, out)
    sdocs = stream_documents(spark, sf_dir).select("doc_id", "text", "source")
    writer = _delta_from_docs(sdocs).writeStream.foreachBatch(
        lambda batch, eid: upsert_corpus_retrying(batch, out)
    )
    run_bounded(spark, [("upsert", writer)])
    return spark.read.parquet(out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_upsert_streaming.stateful_build = True


def _corpus_upsert_roundtrip_sql() -> str:
    return """
WITH delta AS (
  SELECT doc_id, 'UPD: ' || text AS text, source
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, 'NEW: ' || text AS text, source
  FROM documents WHERE doc_id % 50 = 0),
merged AS (
  SELECT doc_id, text, source FROM delta
  UNION ALL
  SELECT doc_id, text, source FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM delta))
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS h FROM merged
"""


def q_corpus_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the compaction path: build a corpus
    deliberately FRAGMENTED (5-row files — the many-small-files state a
    streaming ingest leaves), compact it, and return the committed
    files' content. The oracle is simply the documents table — the
    operator's whole contract is that compaction changes LAYOUT, never
    content; the file-count collapse and untouched-partition
    byte-identity are pinned by tests/test_corpus_io.py."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_cp_")
    # fragment size scaled to the corpus (~10 files per partition at any
    # SF): a CONSTANT tiny size produced 1000 files at sf0.1, paying
    # ~10 s of pure file-open overhead per bench run for no extra proof.
    # Row count from footer metadata, not a scan (falls back to count())
    from ..schemas import table_row_count

    n_docs = table_row_count(f"{sf_dir}/documents.parquet")
    frag = max(2, (n_docs if n_docs is not None else docs.count()) // (10 * 20))
    write_partitioned_corpus(docs, out, max_records_per_file=frag)
    report = compact_corpus(spark, out)
    if not report["compacted"]:
        raise RuntimeError("compaction roundtrip: nothing was fragmented")
    return spark.read.parquet(out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_compact_roundtrip.stateful_build = True


_CORPUS_COMPACT_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS h
FROM documents
"""


def q_corpus_layout_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the layout-clustering path: build a
    corpus from hash-scattered rows (every small file spans ~the whole
    doc_id range), range-cluster it, VERIFY from parquet footer stats
    that every partition's file ranges are pairwise disjoint (raising
    otherwise, so a silently-broken layout fails the driver row), and
    return the committed content — the oracle is the documents table
    (layout changes bytes' placement, never the bytes)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_ly_")
    # row count from footer metadata, not a scan (see compact roundtrip)
    from ..schemas import table_row_count

    n_docs = table_row_count(f"{sf_dir}/documents.parquet")
    if n_docs is None:
        n_docs = docs.count()
    frag = max(2, n_docs // (10 * 20))  # ~10 files/partition at any SF
    write_partitioned_corpus(
        docs.repartition(4, "doc_id"), out, max_records_per_file=frag
    )
    cluster_corpus_layout(spark, out, target_rows_per_file=2 * frag)
    for pdir in _glob.glob(os.path.join(out, "source=*")):
        ranges = file_column_ranges(pdir, "doc_id")
        for i, (lo1, hi1) in enumerate(ranges):
            for lo2, hi2 in ranges[i + 1:]:
                if not (hi1 < lo2 or hi2 < lo1):
                    raise RuntimeError(
                        f"layout roundtrip: overlapping file ranges in "
                        f"{pdir}: {ranges}"
                    )
    return spark.read.parquet(out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_layout_roundtrip.stateful_build = True


def q_corpus_recover_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the CRASH-RECOVERY path (r11): build a
    corpus, then construct on disk the exact mixed state a writer
    killed mid staged-swap leaves behind — the first partition's
    original displaced into ``_trash_{token}`` with a CORRUPT staged
    version swapped in live, a corrupt NEW partition already swapped
    in, the staged ``_swaplist.json`` naming both, and the dead
    holder's lease still on disk with its TTL long expired. Then
    :func:`recover_corpus` must break the stale lease, restore the
    displaced original, remove the swapped-in new partition, discard
    the leftovers, and re-verify the manifest by read-back — and the
    committed files the driver hashes must equal the PRISTINE
    documents table (the oracle): rollback means none of the corrupt
    bytes survive. The in-entry report check raises if the rollback
    didn't restore/remove exactly the two staged partitions, so a
    silently-wrong recovery fails the driver row loudly. The
    SIGKILL-arbitration half (a FRESH dead holder must be waited out,
    never acted on) is pinned cross-process in
    ``tests/test_corpus_io.py::test_recover_corpus_after_sigkilled_writer``."""
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_rc_")
    write_partitioned_corpus(docs, out)
    with open(os.path.join(out, MANIFEST)) as f:
        victim = sorted(_json.load(f)["partitions"])[0]
    vsrc = _hive_unescape(victim.split("=", 1)[1])
    token = "crashed"
    staging = os.path.join(out, f"_staging_{token}")
    trash = os.path.join(out, f"_trash_{token}")
    new_key = "source=zzcrash"
    # the would-be committed data, none of which may survive rollback
    docs.filter(F.col("source") == vsrc).select(
        "doc_id", F.concat(F.lit("LOST: "), F.col("text")).alias("text")
    ).write.parquet(os.path.join(staging, victim))
    docs.limit(7).select(
        "doc_id", F.lit("LOST NEW").alias("text")
    ).write.parquet(os.path.join(out, new_key))  # new partition, swapped in
    with open(os.path.join(staging, SWAPLIST), "w") as f:
        _json.dump([victim, new_key], f)
    os.makedirs(trash, exist_ok=True)
    os.rename(os.path.join(out, victim), os.path.join(trash, victim))
    os.rename(os.path.join(staging, victim), os.path.join(out, victim))
    with open(os.path.join(out, LEASE), "w") as f:  # dead holder, TTL aged out
        _json.dump({
            "purpose": "upsert", "pid": 0,
            "acquired_at": _time.time() - 7200.0, "ttl_sec": 3600.0,
            "token": token,
        }, f)
    report = recover_corpus(out, spark)
    if (victim not in report["restored"]
            or new_key not in report["removed_new"]
            or report["rolled_back"] != [token]):
        raise RuntimeError(
            f"recover roundtrip: unexpected rollback report {report}"
        )
    return spark.read.parquet(out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_recover_roundtrip.stateful_build = True


def q_corpus_evolve_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of SCHEMA EVOLUTION (r12): build a
    corpus, upsert a delta restricted to ONE partition that updates
    text AND carries a brand-new ``lang`` column
    (``allow_schema_evolution=True``), then read back through
    :func:`read_corpus` (the manifest-schema reader). The oracle
    computes the same merge relationally: evolved keys get their new
    text + lang, every other row reads back ``lang IS NULL`` — those
    rows live in files that PHYSICALLY lack the column (asserted
    in-entry: the untouched partitions' file sets are byte-identical
    before and after, so evolving costs one ordinary partition-pruned
    upsert, never a corpus rewrite; Spark null-fills the missing
    column at scan time under the manifest schema)."""
    import glob as _glob

    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_ev_")
    manifest0 = write_partitioned_corpus(docs, out)
    msrc = docs.agg(F.min("source")).collect()[0][0]  # 1 bounded row
    delta = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("source") == msrc)
    ).select(
        "doc_id",
        F.concat(F.lit("EVO: "), F.col("text")).alias("text"),
        "source",
        F.when(F.col("doc_id") % 10 == 0, F.lit("en"))
        .otherwise(F.lit("de"))
        .alias("lang"),
    )
    untouched = {
        k: sorted(_glob.glob(os.path.join(out, k, "*.parquet")))
        for k in manifest0["partitions"]
        if _parse_pkey(("source",), k)[0] != msrc
    }
    manifest = upsert_corpus(delta, out, allow_schema_evolution=True)
    if [f["name"] for f in manifest["schema"]["fields"]].count("lang") != 1:
        raise RuntimeError("evolve roundtrip: manifest schema lacks lang")
    for k, files in untouched.items():
        now = sorted(_glob.glob(os.path.join(out, k, "*.parquet")))
        if now != files:
            raise RuntimeError(
                f"evolve roundtrip: untouched partition {k} was "
                "rewritten — evolution must not rewrite data"
            )
    return read_corpus(spark, out).select(
        "doc_id", "source", F.md5("text").alias("h"), "lang"
    )


q_corpus_evolve_roundtrip.stateful_build = True


_CORPUS_EVOLVE_SQL = """
WITH msrc AS (SELECT min(source) AS s FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       md5(CASE WHEN doc_id % 5 = 0 AND source = (SELECT s FROM msrc)
                THEN 'EVO: ' || text ELSE text END) AS h,
       CASE WHEN doc_id % 5 = 0 AND source = (SELECT s FROM msrc)
            THEN CASE WHEN doc_id % 10 = 0 THEN 'en' ELSE 'de' END
       END AS lang
FROM documents
"""


def q_corpus_delete_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the TAKEDOWN path (r12): build a
    corpus, delete by predicate — every 13th doc PLUS one whole source
    (the licensing-pull shape) — and read the committed files back. The
    oracle computes the same anti-filter relationally. In-entry
    assertions: the fully-deleted source's partition directory is GONE
    (and absent from the manifest), and the reported deleted-row count
    equals the corpus delta, so a silent partial delete fails the
    driver row loudly."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_del_")
    m0 = write_partitioned_corpus(docs, out)
    msrc = docs.agg(F.max("source")).collect()[0][0]  # 1 bounded row
    rep = delete_from_corpus(
        spark, out,
        (F.col("doc_id") % 13 == 0) | (F.col("source") == msrc),
    )
    gone = f"source={_hive_escape(_val_str(msrc))}"
    if gone in rep["manifest"]["partitions"] or os.path.isdir(
        os.path.join(out, gone)
    ):
        raise RuntimeError(
            f"delete roundtrip: fully-deleted partition {gone} survived"
        )
    if rep["removed_partitions"] != [gone]:
        raise RuntimeError(
            f"delete roundtrip: removed {rep['removed_partitions']}, "
            f"expected [{gone}]"
        )
    if (m0["total_rows"] - rep["manifest"]["total_rows"]
            != rep["deleted_rows"]):
        raise RuntimeError("delete roundtrip: deleted-row count drifts")
    return read_corpus(spark, out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_delete_roundtrip.stateful_build = True


_CORPUS_DELETE_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS h
FROM documents
WHERE NOT (doc_id % 13 = 0
           OR source = (SELECT max(source) FROM documents))
"""


def q_corpus_redact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of COLUMN takedown (r13): build a corpus
    carrying a synthetic PII column (``email``), redact it corpus-wide,
    and read the committed files back. The oracle is the documents
    projection WITHOUT the column. In-entry assertions make a silent
    partial redact fail the driver row loudly: the manifest schema must
    lack the column, every committed parquet footer must physically
    lack it (narrowing is a REWRITE — scan-time hiding would leave the
    bytes), and a byte sweep of every file under the corpus root must
    find no trace of the synthetic email domain."""
    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "source",
        F.concat(
            F.lit("user"), F.col("doc_id"), F.lit("@redact.example")
        ).alias("email"),
    )
    out = scratch_dir("corpus_rd_")
    write_partitioned_corpus(docs, out)
    rep = redact_column_from_corpus(spark, out, "email")
    names = [f["name"] for f in rep["manifest"]["schema"]["fields"]]
    if "email" in names:
        raise RuntimeError("redact roundtrip: manifest schema kept email")
    for root, dirs, files in os.walk(out):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            p = os.path.join(root, fn)
            if fn.endswith(".parquet"):
                if "email" in _pq.ParquetFile(p).schema_arrow.names:
                    raise RuntimeError(
                        f"redact roundtrip: {p} still has the column"
                    )
            with open(p, "rb") as fh:
                if b"@redact.example" in fh.read():
                    raise RuntimeError(
                        f"redact roundtrip: {p} still holds redacted bytes"
                    )
    return read_corpus(spark, out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_redact_roundtrip.stateful_build = True


def q_corpus_vacuum_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the VACUUM path and the durable
    commit log (r13, ADVICE r12 #1): build a corpus, run a takedown
    delete (every 11th doc plus one whole source), then reconstruct on
    disk the exact post-commit residue a writer crashed between its
    manifest dump and its deferred cleanup leaves (the deleted
    partition's bytes back in ``_trash_{token}``, the staged swap list
    beside them), and — the load-bearing twist — commit a SUBSEQUENT
    upsert so the manifest's ``writer_token`` no longer names the
    crashed delete. :func:`vacuum_corpus` must classify the stale
    residue as post-commit via the manifest's ``committed_tokens`` log
    and roll it FORWARD (the latest-token-only r12 check would have
    rolled it BACK, resurrecting the taken-down partition). In-entry
    assertions: the residue token is reported rolled-forward, nothing
    was restored, no residue dirs survive, and the deleted partition
    stays gone. The oracle computes the delete + upsert relationally."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_vc_")
    write_partitioned_corpus(docs, out)
    msrc = docs.agg(F.max("source")).collect()[0][0]  # 1 bounded row
    gone = f"source={_hive_escape(_val_str(msrc))}"
    keep = os.path.join(out, "_keep_aside")  # fabricate-residue copy
    _shutil.copytree(os.path.join(out, gone), keep)
    rep = delete_from_corpus(
        spark, out, (F.col("doc_id") % 11 == 0) | (F.col("source") == msrc)
    )
    wtok = rep["manifest"]["writer_token"]
    # the post-commit crash state: displaced original in trash, swap
    # list in staging (the staged dir itself vanished — may_vanish)
    os.makedirs(os.path.join(out, f"_trash_{wtok}"), exist_ok=True)
    os.rename(keep, os.path.join(out, f"_trash_{wtok}", gone))
    os.makedirs(os.path.join(out, f"_staging_{wtok}"), exist_ok=True)
    with open(os.path.join(out, f"_staging_{wtok}", SWAPLIST), "w") as f:
        json.dump([gone], f)
    # a subsequent writer commits: writer_token moves past the delete's
    surv = read_corpus(spark, out)
    upsert_corpus(
        surv.filter(F.col("doc_id") % 17 == 0).withColumn(
            "text", F.concat(F.lit("VUP: "), F.col("text"))
        ),
        out,
    )
    report = vacuum_corpus(out, spark)
    if wtok not in report["rolled_forward"] or report["restored"]:
        raise RuntimeError(
            f"vacuum roundtrip: expected roll-forward of {wtok}, "
            f"got {report}"
        )
    if [d for d in os.listdir(out)
            if d.startswith(("_staging_", "_trash_"))]:
        raise RuntimeError("vacuum roundtrip: residue dirs survived")
    if os.path.isdir(os.path.join(out, gone)):
        raise RuntimeError(
            f"vacuum roundtrip: taken-down partition {gone} resurrected"
        )
    return read_corpus(spark, out).select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_vacuum_roundtrip.stateful_build = True


def q_corpus_changes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the incremental CHANGES-SINCE reader
    (r13): build a corpus (commit T0), upsert a REPLACEMENT-ONLY delta
    into one partition (every 5th doc's text changes; the partition's
    row count is IDENTICAL before and after — asserted in-entry, so a
    count-only diff would miss it), delete one whole other source, and
    ask ``corpus_changes_since(T0)``. It must name exactly the
    replaced partition as changed (fingerprint-detected) and the
    deleted partition as removed, and return the changed partition's
    CURRENT content — which the oracle computes relationally. Every
    untouched partition must be absent from the report (their
    fingerprints carried verbatim through the incremental manifest
    merge)."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_ch_")
    m0 = write_partitioned_corpus(docs, out)
    t0 = m0["writer_token"]
    # ONE job for both extrema (r14 optimization round: these were
    # two separate full scans of the documents table)
    _mx = docs.agg(F.min("source"), F.max("source")).collect()[0]
    msrc, xsrc = _mx[0], _mx[1]
    chg_key = f"source={_hive_escape(_val_str(msrc))}"
    del_key = f"source={_hive_escape(_val_str(xsrc))}"
    delta = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("source") == msrc)
    ).withColumn("text", F.concat(F.lit("CHG: "), F.col("text")))
    m1 = upsert_corpus(delta, out)
    if m1["partitions"][chg_key] != m0["partitions"][chg_key]:
        raise RuntimeError(
            "changes roundtrip: the replacement delta changed the row "
            "count — the count-blindness claim would be vacuous"
        )
    delete_from_corpus(spark, out, F.col("source") == xsrc)
    ch = corpus_changes_since(spark, out, t0)
    if ch["changed"] != [chg_key]:
        raise RuntimeError(
            f"changes roundtrip: changed={ch['changed']}, expected "
            f"[{chg_key}] — count-equal replacement not fingerprint-"
            "detected, or untouched partitions over-reported"
        )
    if ch["removed"] != [del_key]:
        raise RuntimeError(
            f"changes roundtrip: removed={ch['removed']}, expected "
            f"[{del_key}]"
        )
    return ch["df"].select(
        "doc_id", "source", F.md5("text").alias("h")
    )


q_corpus_changes_roundtrip.stateful_build = True


_CORPUS_CHANGES_SQL = """
WITH msrc AS (SELECT min(source) AS s FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       md5(CASE WHEN doc_id % 5 = 0 THEN 'CHG: ' || text
                ELSE text END) AS h
FROM documents
WHERE source = (SELECT s FROM msrc)
"""


def q_corpus_pinned_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of SNAPSHOT-ISOLATED reads (r14, VERDICT
    r13 #1): build a corpus, PIN a snapshot, then — with the pin held —
    commit a predicate takedown (every 3rd doc) AND a full layout
    rewrite (every surviving partition's file names change, the old
    files' cleanup runs). The pinned read must still return the
    PRE-takedown version exactly — the oracle is the pristine documents
    table — while in-entry assertions prove the live corpus actually
    moved (its row count shrank) and the pin still verifies
    content-fingerprint-clean against its own manifest. A reader
    racing maintenance seeing anything but one committed version fails
    the driver row loudly."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_pin_")
    m0 = write_partitioned_corpus(docs, out)
    with pin_corpus_snapshot(out) as snap:
        delete_from_corpus(spark, out, F.col("doc_id") % 3 == 0)
        cluster_corpus_layout(spark, out)
        if not verify_manifest(spark, snap.pin_dir):
            raise RuntimeError(
                "pinned snapshot: pin no longer verifies against its "
                "own manifest after concurrent maintenance"
            )
        # the takedown's effect is already committed metadata — no live
        # re-scan needed to prove the corpus moved (same substitution
        # as corpus_time_travel; r14 optimization round: this was a
        # full live-corpus count per run)
        live_rows = _current_manifest(out)["total_rows"]
        if live_rows >= m0["total_rows"]:
            raise RuntimeError(
                "pinned snapshot: the takedown did not move the live "
                "corpus — the isolation claim would be vacuous"
            )
        # materialize before the pin drops (the driver collects after
        # this entry returns; the links die with the context)
        return snap.read(spark).select(
            "doc_id", "source", F.md5("text").alias("h")
        ).localCheckpoint(eager=True)


q_corpus_pinned_snapshot.stateful_build = True


_CORPUS_REDACT_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, md5(text) AS h
FROM documents
"""


def q_corpus_cdc_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of the CDC STREAMING SOURCE (r14,
    ``sources/corpus_cdc.py`` — Spark 4 Python DataSource API): build
    a corpus (commit T0), replacement-upsert every 4th doc of the MIN
    source and delete the MAX source, then consume
    ``readStream.format("corpus_cdc").option("since_token", T0)`` to
    exhaustion (availableNow). The feed must deliver exactly the
    changed partition's current content as ``update`` rows plus ONE
    ``remove`` tombstone for the deleted partition — the relational
    expectation the oracle computes. Row content is batch-interval-
    invariant (however commits group into micro-batches), which is
    what the driver hash proves."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir
    from ..sources import corpus_cdc
    from ..streaming.jobs import _run_to_memory

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_cdcs_")
    m0 = write_partitioned_corpus(docs, out)
    t0 = m0["writer_token"]
    # ONE job for both extrema (r14 optimization round: these were
    # two separate full scans of the documents table)
    _mx = docs.agg(F.min("source"), F.max("source")).collect()[0]
    msrc, xsrc = _mx[0], _mx[1]
    delta = docs.filter(
        (F.col("doc_id") % 4 == 0) & (F.col("source") == msrc)
    ).withColumn("text", F.concat(F.lit("CDC: "), F.col("text")))
    upsert_corpus(delta, out)
    delete_from_corpus(spark, out, F.col("source") == xsrc)

    corpus_cdc.register(spark)
    feed = (
        spark.readStream.format("corpus_cdc")
        .option("path", out)
        .option("since_token", t0)
        .load()
    )
    got = _run_to_memory(feed).select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.col(corpus_cdc.CHANGE_COL).alias("change"),
    ).localCheckpoint(eager=True)
    n_rem = got.filter(F.col("change") == "remove").count()
    if n_rem != 1:
        raise RuntimeError(
            f"cdc stream: expected exactly 1 remove tombstone, got "
            f"{n_rem}"
        )
    return got


q_corpus_cdc_stream.stateful_build = True


_CORPUS_CDC_STREAM_SQL = """
WITH msrc AS (SELECT min(source) AS s FROM documents),
     xsrc AS (SELECT max(source) AS s FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       md5(CASE WHEN doc_id % 4 = 0 THEN 'CDC: ' || text
                ELSE text END) AS h,
       'update' AS change
FROM documents
WHERE source = (SELECT s FROM msrc)
UNION ALL
SELECT CAST(NULL AS BIGINT) AS doc_id,
       (SELECT s FROM xsrc) AS source,
       CAST(NULL AS VARCHAR) AS h,
       'remove' AS change
"""


def q_corpus_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable proof of TIME TRAVEL under version retention
    (r14): build a corpus (commit T1), enable ``keep_versions=4``, then
    move the corpus three times — a replacement upsert (every 7th
    doc, T2), a predicate takedown (every 3rd doc, T3), and a full
    layout rewrite (every file name changes, old files retired under
    an ephemeral token). ``pin_corpus_version(T1)`` must then return
    the ORIGINAL table exactly — the oracle is the pristine documents
    table — even though not one of T1's files is live anymore. In-entry
    assertions prove the journey was real: the live corpus shrank; the
    T2 pin still holds T1's row count with exactly the replaced docs
    carrying the new text; and after ``vacuum_corpus(
    purge_versions=True)`` the T1 pin raises
    :class:`VersionUnavailableError` (destroyed versions stay
    destroyed — the compliance contract)."""
    from pyspark.sql import functions as F

    from ..schemas import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    out = scratch_dir("corpus_tt_")
    m1 = write_partitioned_corpus(docs, out)
    t1 = m1["writer_token"]
    set_corpus_retention(out, keep_versions=4)
    delta = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
        "text", F.concat(F.lit("TT: "), F.col("text"))
    )
    m2 = upsert_corpus(delta, out)
    t2 = m2["writer_token"]
    delete_from_corpus(spark, out, F.col("doc_id") % 3 == 0)
    cluster_corpus_layout(spark, out)
    # the takedown's effect is already committed metadata — no live
    # re-scan needed to prove the corpus moved
    live_rows = _current_manifest(out)["total_rows"]
    if live_rows >= m1["total_rows"]:
        raise RuntimeError(
            "time travel: the takedown did not move the live corpus — "
            "the retention claim would be vacuous"
        )
    n_replaced = docs.filter(F.col("doc_id") % 7 == 0).count()
    with pin_corpus_version(out, t2) as v2:
        # one aggregate over the pinned read: total rows + replaced
        # rows in a single job (no checkpoint of the whole version)
        row2 = v2.read(spark).agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("text").startswith("TT: "), 1).otherwise(0)
            ).alias("r"),
        ).collect()[0]
    if row2["n"] != m1["total_rows"]:
        raise RuntimeError(
            "time travel: the T2 version lost the replacement-only "
            "row-count invariant"
        )
    if row2["r"] != n_replaced:
        raise RuntimeError(
            "time travel: the T2 version does not carry exactly the "
            "replaced docs' new text"
        )
    with pin_corpus_version(out, t1) as v1:
        result = v1.read(spark).select(
            "doc_id", "source", F.md5("text").alias("h")
        ).localCheckpoint(eager=True)
    vacuum_corpus(out, purge_versions=True)
    try:
        with pin_corpus_version(out, t1):
            pass
        raise RuntimeError(
            "time travel: T1 still pinnable after purge_versions — "
            "right-to-be-forgotten finality is broken"
        )
    except VersionUnavailableError:
        pass
    return result


q_corpus_time_travel.stateful_build = True

_CORPUS_VACUUM_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       source,
       md5(CASE WHEN doc_id % 17 = 0 THEN 'VUP: ' || text
                ELSE text END) AS h
FROM documents
WHERE NOT (doc_id % 11 = 0
           OR source = (SELECT max(source) FROM documents))
"""


QUERIES = {
    "corpus_upsert_roundtrip": q_corpus_upsert_roundtrip,
    "corpus_evolve_roundtrip": q_corpus_evolve_roundtrip,
    "corpus_delete_roundtrip": q_corpus_delete_roundtrip,
    "corpus_redact_roundtrip": q_corpus_redact_roundtrip,
    "corpus_changes_roundtrip": q_corpus_changes_roundtrip,
    "corpus_pinned_snapshot": q_corpus_pinned_snapshot,
    "corpus_time_travel": q_corpus_time_travel,
    "corpus_cdc_stream": q_corpus_cdc_stream,
    "corpus_vacuum_roundtrip": q_corpus_vacuum_roundtrip,
    "corpus_upsert_streaming": q_corpus_upsert_streaming,
    "corpus_compact_roundtrip": q_corpus_compact_roundtrip,
    "corpus_layout_roundtrip": q_corpus_layout_roundtrip,
    "corpus_recover_roundtrip": q_corpus_recover_roundtrip,
}

ORACLES = {
    "corpus_upsert_roundtrip": _corpus_upsert_roundtrip_sql(),
    # schema evolution: evolved keys carry the new column, every
    # pre-evolution row reads back NULL for it (scan-time null fill
    # under the manifest schema; no-rewrite assertion is in-entry)
    "corpus_evolve_roundtrip": _CORPUS_EVOLVE_SQL,
    # predicate takedown: the committed content is the anti-filter
    # (whole-partition removal + count reconciliation are in-entry)
    "corpus_delete_roundtrip": _CORPUS_DELETE_SQL,
    # column takedown: the committed content is the projection without
    # the redacted column (manifest-schema narrowing, physical column
    # absence, and the byte sweep are in-entry)
    "corpus_redact_roundtrip": _CORPUS_REDACT_SQL,
    # changes-since CDC: the returned frame is the changed
    # partition's current content (replacement-only change,
    # fingerprint-detected; report assertions are in-entry)
    "corpus_changes_roundtrip": _CORPUS_CHANGES_SQL,
    # snapshot isolation: the pinned read is the PRE-takedown version
    # verbatim (the live-moved and pin-verifies assertions are
    # in-entry), so the oracle is simply the pristine table
    "corpus_pinned_snapshot": _CORPUS_COMPACT_SQL,
    # time travel: the T1 version IS the pristine table, whatever the
    # corpus has become since (journey + purge assertions are in-entry)
    "corpus_time_travel": _CORPUS_REDACT_SQL,
    # CDC streaming source: the exhausted feed == changed partition's
    # current content + one remove tombstone, relationally
    "corpus_cdc_stream": _CORPUS_CDC_STREAM_SQL,
    # vacuum + durable commit log: residue of a committed-then-crashed
    # delete is rolled FORWARD even after a subsequent commit moved
    # writer_token on (the roll-direction and residue-absence
    # assertions are in-entry); content = delete + upsert relationally
    "corpus_vacuum_roundtrip": _CORPUS_VACUUM_SQL,
    # per-key replacement is epoch-composable: any micro-batch split of
    # the same delta converges to the batch merge — oracle verbatim
    "corpus_upsert_streaming": _corpus_upsert_roundtrip_sql(),
    # compaction changes LAYOUT only: the committed content is the table
    "corpus_compact_roundtrip": _CORPUS_COMPACT_SQL,
    # likewise for range clustering (the disjointness proof is in-entry)
    "corpus_layout_roundtrip": _CORPUS_COMPACT_SQL,
    # rollback restores the pre-crash corpus exactly: the committed
    # content is the pristine table (the report check is in-entry)
    "corpus_recover_roundtrip": _CORPUS_COMPACT_SQL,
}
