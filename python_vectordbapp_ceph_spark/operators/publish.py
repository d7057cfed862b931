"""Pluggable ATOMIC-PUBLISH backends for the commit/lease protocol.

Every durability guarantee in this engine funnels through ONE
primitive: "make this small JSON file exist at this path iff nothing
exists there yet, all-or-nothing" (operators/merge.py publishes
manifest commits through it; operators/lease.py publishes writer
leases through it). The r11 implementation realized that primitive as
stage-to-tmp + rename-without-overwrite — correct on HDFS and on
LocalFileSystem's checksum layer (both fail a rename whose destination
file exists, probed empirically), but SILENTLY WRONG on the store the
reference actually targets: Ceph RGW S3 (s3vectors-app/
rook-resources.yaml, pythonvectordbceph.py:93-119). There `s3a://`
rename is client-side copy+delete — it is neither atomic nor
failing-on-existing, so two racing committers both "win" and the
last copy silently replaces the first: lost commits, dual writers.

This module makes the publish primitive pluggable and SELF-CHECKING:

  - :class:`RenamePublish` — the r11 behavior. Content-atomic (the
    tmp file is complete before the rename) and exclusive wherever
    rename-onto-existing-file fails (HDFS, local). The right default
    for real filesystems.
  - :class:`ConditionalPutPublish` — create-if-absent, the
    ``If-None-Match: *`` shape. One exclusive create straight onto the
    target: on object stores a PUT is all-or-nothing (an object is
    never visible half-written) and the conditional header makes it
    first-writer-wins — S3 has supported `If-None-Match: *` on PUT
    since 2024-08 and Hadoop ≥3.4.1 exposes it as
    ``fs.s3a.create.conditional.enabled``, surfacing through the very
    FileSystem.create(path, overwrite=false) call this backend makes.
    On plain HDFS, create-exclusive is atomic for EXCLUSIVITY but not
    for content (a reader can see a partially-written file), which is
    why rename stays the filesystem default.
  - :func:`probe_publish_capability` — writes two throwaway files in
    the guarded directory and OBSERVES the store's actual semantics:
    does rename-onto-existing fail cleanly, does create-exclusive
    reject an existing target? Run once per (scheme, authority) and
    cached for the process.
  - :func:`backend_for` — the selection policy, called lazily at the
    first publish against each store ("ledger open"): rename where
    the probe proves it exclusive; otherwise conditional-put where
    the probe proves create-exclusive rejects; otherwise FAIL FAST
    with the probe's evidence — never fall through to a publish whose
    loss mode is silent.

Everything is written against the five-method :class:`FsOps`
interface, so the contract tests drive the two backends and the probe
against a pure-Python fake whose rename mimics S3 (copy+delete,
overwrites an existing destination, "succeeds" for both racers) — the
proof that the probe catches exactly the store the rename backend
would corrupt.

The writer lease (operators/lease.py) runs ONE fencing-token protocol
on every store through this same selection: each transition —
acquire, heartbeat, expired-lease break, release — is one
``publish_json`` of the next-numbered epoch record. On rename-
exclusive stores that is stage+rename-without-overwrite; on S3-like
stores it is the conditional create, so no rename remains anywhere in
the commit/lease protocol there.
"""

from __future__ import annotations

import json
import logging
import uuid

_log = logging.getLogger(__name__)


class FsOps:
    """The five filesystem operations the publish protocol needs.

    Implementations: :class:`HadoopFsOps` (production — wraps the
    path-resolved Hadoop FileSystem) and the contract tests' fake
    object store. Paths are plain strings; directories are implicit
    (mkdirs before create where the store needs it).
    """

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def create_bytes(self, path: str, data: bytes, overwrite: bool) -> None:
        """Write ``data`` as the complete content of ``path``.
        ``overwrite=False`` is the CONDITIONAL create: must raise
        FileExistsError if the path already exists (the If-None-Match
        contract; atomic first-writer-wins on stores that support
        conditional writes)."""
        raise NotImplementedError

    def rename(self, src: str, dst: str) -> bool:
        """Move src to dst, returning False on failure. The publish
        protocol only trusts this where the capability probe has shown
        a rename onto an EXISTING dst fails without clobbering it."""
        raise NotImplementedError

    def delete(self, path: str) -> None:
        raise NotImplementedError

    def list_names(self, dir_path: str) -> list[str]:
        """Basenames of the entries directly under ``dir_path`` ([]
        if the directory does not exist). Used by the epoch-fenced
        lease (operators/lease.py) whose state is the HIGHEST-numbered
        record in a dedicated, GC-bounded directory."""
        raise NotImplementedError

    def scheme_authority(self, path: str) -> tuple[str, str]:
        """(scheme, authority) identifying the store — the probe-cache
        key. The default is unique PER INSTANCE so two injected fakes
        with different semantics can never share a cached selection
        (a posix-semantics fake probed first must not hand its rename
        backend to an S3-semantics fake probed second)."""
        return ("fake", f"{id(self):x}")

    def conditional_create_atomicity(self, path: str) -> bool | None:
        """Whether create(overwrite=False) is server-side atomic under
        RACES, which the sequential capability probe cannot observe
        (it only sees reject-on-existing SEMANTICS — a client-side
        HEAD-then-PUT emulation shows the same behavior with a lost-
        update window between the HEAD and the PUT). True = known
        atomic, False = known emulated (reject the backend), None =
        unknown (trust the probe, warn). Fakes default to True: their
        create IS their atomicity model."""
        return True

    def rename_atomicity(self, path: str) -> bool | None:
        """Whether rename is atomic under RACES — the second property
        the sequential probe cannot see. On object stores rename is
        check-then-copy+delete: renaming onto an EXISTING destination
        can fail cleanly (which the probe observes as exclusive!)
        while two racers renaming onto an ABSENT destination both pass
        the check, both copy, and the later copy silently replaces the
        earlier — the exact lost-commit mode this module exists to
        prevent. False = known emulated (never select the rename
        backend no matter what the probe saw), None = trust the probe
        (real-filesystem namespace renames). Fakes default to True."""
        return True


class HadoopFsOps(FsOps):
    """FsOps over the Hadoop FileSystem resolved FROM the path (s3a://,
    hdfs://, file:// — not the cluster default FS; they routinely
    differ)."""

    def __init__(self, spark, path: str):
        jvm = spark._jvm  # noqa: SLF001
        self._hpath = jvm.org.apache.hadoop.fs.Path
        self._fs = self._hpath(path).getFileSystem(
            spark._jsc.hadoopConfiguration()  # noqa: SLF001
        )
        self._jvm = jvm

    def scheme_authority(self, path: str) -> tuple[str, str]:
        uri = self._hpath(path).toUri()
        return (uri.getScheme() or "file", uri.getAuthority() or "")

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._hpath(path)))

    def read_bytes(self, path: str) -> bytes:
        stream = self._fs.open(self._hpath(path))
        try:
            return bytes(
                self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()

    @staticmethod
    def _typed_conflict(je) -> bool | None:
        """Typed verdict from the Java exception CHAIN, before any
        string heuristics: True = a class-name AlreadyExists/
        PreconditionFailed or an HTTP status code of exactly 412
        (the conditional-PUT conflict — AWSS3Exception.statusCode() /
        AmazonS3Exception.getStatusCode()); False = a typed status
        code WAS found and it is NOT 412 (e.g. a 503 whose message
        happens to contain ' 412' — retryable, NOT lost-the-race);
        None = no typed information anywhere in the chain (opaque
        wrapper — only then may the caller fall back to strings)."""
        verdict: bool | None = None
        cur, hops = je, 0
        while cur is not None and hops < 8:
            hops += 1
            try:
                cls = cur.getClass().getName()
            except Exception:
                break
            if "AlreadyExists" in cls or "PreconditionFailed" in cls:
                return True
            for meth in ("statusCode", "getStatusCode"):
                try:
                    code = int(getattr(cur, meth)())
                except Exception:
                    continue
                if code == 412:
                    return True
                verdict = False  # typed code found, and it isn't 412
                break
            try:
                cur = cur.getCause()
            except Exception:
                break
        return verdict

    @staticmethod
    def _is_already_exists(e: Exception) -> bool:
        """Precise FileAlreadyExists detection on a Py4J-wrapped Java
        exception. Order matters — this function adjudicates the
        conditional-PUT race, and a misread converts a retryable
        transient into a false "another writer won":

        1. TYPED chain walk (:meth:`_typed_conflict`): Java class
           names and the AWS SDK's machine-readable HTTP status code.
           A typed non-412 code is AUTHORITATIVE — the string fallback
           is never consulted (a proxy 503 whose message carries
           ' 412' must propagate as retryable).
        2. Message-HEAD substrings, ONLY for genuinely opaque wrappers
           (no java_exception, or a chain exposing neither class nor
           code): head-bounded because the stringified form carries a
           full stack trace whose text can contain 'exists'/' 412'
           for unrelated frames."""
        je = getattr(e, "java_exception", None)
        if je is not None:
            typed = HadoopFsOps._typed_conflict(je)
            if typed is not None:
                return typed
        head = str(e)[:300]
        return (
            "AlreadyExists" in head
            or "reconditionFailed" in head
            or "recondition failed" in head.lower()
            or " 412" in head
        )

    def create_bytes(self, path: str, data: bytes, overwrite: bool) -> None:
        p = self._hpath(path)
        parent = p.getParent()
        if parent is not None:
            self._fs.mkdirs(parent)
        try:
            out = self._fs.create(p, bool(overwrite))
        except Exception as e:  # Py4J wraps FileAlreadyExistsException
            if not overwrite and self._is_already_exists(e):
                raise FileExistsError(path) from e
            raise
        try:
            out.write(bytearray(data))
        except Exception:
            try:
                out.close()
            except Exception:
                pass
            raise
        try:
            # a server-side conditional PUT (s3a If-None-Match) reports
            # the conflict HERE, at stream close, not at create(): the
            # object is uploaded when the stream closes. Same
            # translation as create-time.
            out.close()
        except Exception as e:
            if not overwrite and self._is_already_exists(e):
                raise FileExistsError(path) from e
            raise

    def rename(self, src: str, dst: str) -> bool:
        """False only when the destination is taken: Hadoop's
        ``rename`` answered false, or raised its already-exists error.
        Anything else (a transient I/O error) propagates — read as a
        lost race, it would make a lease heartbeat mark a healthy
        holder lost."""
        try:
            return bool(self._fs.rename(self._hpath(src), self._hpath(dst)))
        except Exception as e:
            if self._is_already_exists(e):
                return False
            raise

    def delete(self, path: str) -> None:
        self._fs.delete(self._hpath(path), False)

    def list_names(self, dir_path: str) -> list[str]:
        p = self._hpath(dir_path)
        if not self._fs.exists(p):
            return []
        return [st.getPath().getName() for st in self._fs.listStatus(p)]

    def rename_atomicity(self, path: str) -> bool | None:
        """Object-store schemes emulate rename as check-then-
        copy+delete: rename onto an EXISTING destination fails cleanly
        (so the sequential probe reports rename_exclusive!) while two
        racers renaming onto an ABSENT destination both pass the check
        and the later copy silently replaces the earlier. The rename
        backend must therefore never be selected on these schemes
        regardless of what the probe observed. Real-filesystem
        schemes → None (namespace rename; trust the probe)."""
        scheme = (self._hpath(path).toUri().getScheme() or "").lower()
        if scheme in ("s3a", "s3n", "s3", "gs", "oss", "cos", "wasb",
                      "wasbs", "abfs", "abfss", "swift"):
            # abfs/wasb renames are actually atomic on hierarchical
            # namespaces, but a flat-namespace account is
            # indistinguishable from here — distrust uniformly and let
            # conditional create carry those stores too.
            return False
        return None

    def conditional_create_atomicity(self, path: str) -> bool | None:
        """s3a's create(overwrite=false) is only server-side atomic
        when Hadoop issues a conditional PUT (``If-None-Match: *`` —
        ``fs.s3a.create.conditional.enabled``, Hadoop ≥ 3.4.1);
        otherwise it is a client-side HEAD-then-PUT emulation whose
        reject-on-existing the probe SEES but whose race window it
        cannot: two racers can both pass the HEAD and the later PUT
        silently replaces the earlier — exactly the lost-commit mode
        the backend exists to prevent. Explicitly disabled → False
        (selection refuses); enabled → True; any other scheme → None
        (single-node FS semantics are already atomic for the probe's
        purposes: HDFS/local create-exclusive is namespace-atomic)."""
        scheme = (self._hpath(path).toUri().getScheme() or "").lower()
        if scheme not in ("s3a", "s3n", "s3"):
            return None
        conf = self._fs.getConf()
        val = conf.get("fs.s3a.create.conditional.enabled")
        if val is None:
            return None
        return str(val).lower() == "true"


# --- backends ----------------------------------------------------------------


class RenamePublish:
    """Stage-to-tmp + rename-without-overwrite (the r11 protocol).
    Content-atomic everywhere (the tmp is complete before the rename);
    EXCLUSIVE only where rename-onto-existing fails — which is what
    the capability probe verifies before this backend is selected."""

    name = "rename"

    def __init__(self, ops: FsOps):
        self._ops = ops

    def publish_json(self, target: str, payload: dict) -> bool:
        parent, fname = target.rsplit("/", 1)
        tmp = f"{parent}/.tmp-{fname}-{uuid.uuid4().hex}.json"
        self._ops.create_bytes(
            tmp, json.dumps(payload).encode("utf-8"), overwrite=True
        )
        try:
            renamed = self._ops.rename(tmp, target)
        except Exception:
            try:
                self._ops.delete(tmp)
            except Exception:
                pass
            raise
        if renamed:
            return True
        self._ops.delete(tmp)
        return False


class ConditionalPutPublish:
    """Create-if-absent straight onto the target — the
    ``If-None-Match: *`` shape. First-writer-wins exclusivity comes
    from the store's conditional-write support (S3 conditional PUT /
    Hadoop ≥3.4.1 ``fs.s3a.create.conditional.enabled``); content
    atomicity from the object-store PUT contract (an object is never
    visible partially written). The backend for stores whose rename is
    copy+delete."""

    name = "conditional-put"

    def __init__(self, ops: FsOps):
        self._ops = ops

    def publish_json(self, target: str, payload: dict) -> bool:
        try:
            self._ops.create_bytes(
                target, json.dumps(payload).encode("utf-8"), overwrite=False
            )
            return True
        except FileExistsError:
            return False


# --- capability probe ---------------------------------------------------------


def probe_publish_capability(ops: FsOps, probe_dir: str) -> dict:
    """OBSERVE the store's publish-relevant semantics with two
    throwaway dot-files under ``probe_dir`` (hidden from Spark's file
    index and from the commit listing's ``v*.json`` filter):

      - ``rename_exclusive``: a rename onto an existing file FAILS and
        leaves the existing content intact (the property the rename
        backend's whole safety rests on — false on S3-like stores
        where rename is copy+delete);
      - ``conditional_create``: create(overwrite=False) onto an
        existing file raises instead of replacing it (the property the
        conditional-put backend rests on).

    Returns ``{"rename_exclusive": bool, "conditional_create": bool}``.
    Cost: two tiny writes + one rename + cleanup — run once per
    (scheme, authority) per process by :func:`backend_for`."""
    token = uuid.uuid4().hex[:8]
    a = f"{probe_dir}/.probe-{token}-a"
    b = f"{probe_dir}/.probe-{token}-b"
    caps = {"rename_exclusive": False, "conditional_create": False}
    try:
        ops.create_bytes(a, b"A", overwrite=True)
        ops.create_bytes(b, b"B", overwrite=True)
        renamed = ops.rename(b, a)
        survived = False
        try:
            survived = ops.read_bytes(a) == b"A"
        except Exception:
            survived = False
        caps["rename_exclusive"] = (not renamed) and survived
        # re-arm the target for the conditional probe (the rename may
        # have consumed/overwritten it on a non-exclusive store)
        ops.create_bytes(a, b"A", overwrite=True)
        try:
            ops.create_bytes(a, b"C", overwrite=False)
            caps["conditional_create"] = False  # replaced silently
        except FileExistsError:
            try:
                caps["conditional_create"] = ops.read_bytes(a) == b"A"
            except Exception:
                # can't confirm the original survived — report the
                # capability absent rather than raising out of the
                # probe (selection then fails fast with the evidence)
                caps["conditional_create"] = False
    finally:
        for p in (a, b):
            try:
                ops.delete(p)
            except Exception:
                pass
    return caps


class UnsafePublishStoreError(RuntimeError):
    """The store supports NEITHER exclusive rename nor conditional
    create: no available backend can make a commit/lease publish
    first-writer-wins, so the protocol refuses to run rather than
    losing commits silently."""


# (scheme, authority) -> selected backend name; probes run once per
# store per process — the "ledger open" gate
_BACKEND_CACHE: dict[tuple[str, str], str] = {}
# test/ops override: force a backend name for every store ("rename" /
# "conditional-put"), or None for probe-selected
_FORCED_BACKEND: str | None = None


def force_publish_backend(name: str | None) -> None:
    """Override backend selection process-wide (ops escape hatch and
    the contract tests' lever). ``None`` restores probe-based
    selection; forcing also clears the probe cache so the next publish
    re-selects."""
    global _FORCED_BACKEND
    if name not in (None, "rename", "conditional-put"):
        raise ValueError(f"unknown publish backend {name!r}")
    _FORCED_BACKEND = name
    _BACKEND_CACHE.clear()


def backend_for(ops: FsOps, probe_dir: str, store_key: tuple[str, str]):
    """The publish backend for the store identified by ``store_key``
    ((scheme, authority)), probing its capabilities on first use:

      1. rename-exclusive stores whose scheme actually renames in the
         namespace (``rename_atomicity`` not False) →
         :class:`RenamePublish` (content-atomic AND exclusive —
         strictly strongest). Object-store schemes are distrusted by
         policy even when the probe sees exclusive-onto-existing:
         their rename-onto-ABSENT is check-then-copy and two racers
         can both "win";
      2. else conditional-create stores → :class:`ConditionalPutPublish`
         (logged once: the operator should know the store's rename is
         unsafe and which backend replaced it);
      3. else → :class:`UnsafePublishStoreError`, immediately — a
         publish that can silently lose a commit must never run.
    """
    chosen = _FORCED_BACKEND or _BACKEND_CACHE.get(store_key)
    if chosen is None:
        caps = probe_publish_capability(ops, probe_dir)
        atomic = ops.conditional_create_atomicity(probe_dir)
        rename_atomic = ops.rename_atomicity(probe_dir)
        if caps["rename_exclusive"] and rename_atomic is not False:
            chosen = "rename"
        elif caps["conditional_create"] and atomic is not False:
            if caps["rename_exclusive"]:
                # the probe SAW exclusive rename but the scheme is an
                # object store whose rename is check-then-copy+delete:
                # exclusive-onto-existing does not imply race-atomic-
                # onto-absent, so rename is distrusted by policy.
                _log.warning(
                    "publish: store %s://%s probes rename-exclusive "
                    "but its scheme emulates rename (check-then-copy) "
                    "— racing renames onto an absent destination can "
                    "both 'succeed'; selecting conditional-put",
                    store_key[0], store_key[1],
                )
            else:
                _log.warning(
                    "publish: store %s://%s renames onto existing "
                    "files (S3-like copy+delete) — selected the "
                    "conditional-put backend instead of the rename "
                    "protocol",
                    store_key[0], store_key[1],
                )
            chosen = "conditional-put"
            if atomic is None:
                # the sequential probe sees reject-on-existing SEMANTICS
                # but cannot observe race atomicity: a client-side
                # HEAD-then-PUT emulation looks identical. Say so once.
                _log.warning(
                    "publish: conditional-create atomicity on %s://%s "
                    "is TRUSTED, not probed — ensure the store issues a "
                    "server-side conditional PUT (on s3a: "
                    "fs.s3a.create.conditional.enabled=true, Hadoop "
                    ">= 3.4.1); a HEAD-then-PUT emulation has a "
                    "lost-commit race window",
                    store_key[0], store_key[1],
                )
        elif caps["conditional_create"]:
            raise UnsafePublishStoreError(
                f"store {store_key[0]}://{store_key[1]} rejects "
                "create-onto-existing only via a client-side "
                "HEAD-then-PUT emulation (fs.s3a.create.conditional."
                "enabled is explicitly false): racing committers can "
                "both pass the existence check and the later PUT "
                "silently replaces the earlier. Enable server-side "
                "conditional writes (Hadoop >= 3.4.1) or use an "
                "HDFS/local metadata path."
            )
        else:
            raise UnsafePublishStoreError(
                f"store {store_key[0]}://{store_key[1]} supports neither "
                "exclusive rename nor conditional create "
                f"(probe: {caps}); refusing to publish commits/leases "
                "whose races would be silently lost. Use a store with "
                "conditional writes (e.g. S3 conditional PUT via "
                "fs.s3a.create.conditional.enabled) or HDFS/local."
            )
        _BACKEND_CACHE[store_key] = chosen
    return (
        RenamePublish(ops) if chosen == "rename" else ConditionalPutPublish(ops)
    )
