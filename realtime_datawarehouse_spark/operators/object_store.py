"""Object-store commit arbiter: the S3 conditional-PUT protocol behind
``table_store.set_arbiter`` (VERDICT r7 item 3).

``LocalCASArbiter`` realizes commit-by-conditional-PUT on POSIX via
``os.link``; this module realizes the SAME observable contract on an
object store speaking ``If-None-Match: *`` semantics — the design Delta
Lake uses for S3 multi-writer commits, available natively on S3 since
2024 (and forever on ADLS/GCS as PutIfAbsent / ifGenerationMatch=0).
``commit()``, ``merge_upsert``, and every call site are unchanged:
``set_arbiter(ObjectStoreCASArbiter(store))`` swaps the backend.

The store client is FOUR calls (the exact boto3 mapping in each
docstring); ``InMemoryObjectStore`` is the in-process reference
implementation honoring precondition-failed semantics atomically, used
by the parametrized contract suite (tests/test_arbiter_contract.py) to
prove both backends interchangeable. Assumes read-after-write strong
consistency, which S3 has guaranteed since 2020 — list-after-put is
immediately visible.

Snapshot DATA in this hybrid deployment stays wherever the table lives
(the arbiter arbitrates only the commit log); a full object-store table
additionally maps the ``v-*/`` prefixes to keys, which is a storage
concern orthogonal to commit arbitration.
"""
from __future__ import annotations

import threading
from urllib.parse import quote


class TransientStoreError(Exception):
    """In-process stand-in for a RETRYABLE object-store error: S3 503
    SlowDown / throttling, request timeouts, transient 500s. A real
    boto3 adapter normally never surfaces these (see the retry
    configuration note on :class:`InMemoryObjectStore`); the in-process
    fault injector raises them so the contract suite can prove the
    documented client behavior — including the one case internal
    retries canNOT paper over, the ambiguous conditional PUT (see
    :class:`RetryingStoreClient`)."""


class InMemoryObjectStore:
    """In-process object store honoring conditional-PUT semantics.

    The four-call client protocol an S3 adapter implements with boto3:

    - ``put_if_none_match(key, body) -> bool`` — atomic create-if-absent;
      False when the key exists (S3: ``put_object(..., IfNoneMatch='*')``
      catching the 412 ``PreconditionFailed`` ClientError).
    - ``get(key) -> bytes`` — raises KeyError when absent (``get_object``
      catching ``NoSuchKey``).
    - ``list(prefix) -> list[str]`` — ALL keys under prefix. S3 pages at
      1 000 keys: the adapter must drain the ``list_objects_v2``
      paginator (``get_paginator('list_objects_v2')``), never read one
      page — ``page_size`` here forces the same drain loop in-process so
      the contract suite runs against multi-page listings.
    - ``delete(key) -> None`` — idempotent (``delete_object``; S3 returns
      204 whether or not the key existed).

    REQUIRED boto3 retry configuration (VERDICT r8 item 4): build the
    client with ``Config(retries={'mode': 'standard', 'max_attempts':
    10})`` (or ``'adaptive'`` under sustained throttling) so 503
    SlowDown / timeouts retry inside boto3 for ``get``/``list``/
    ``delete``. ``put_object(IfNoneMatch='*')`` is the exception: a
    retryable error can land AFTER the server applied the PUT, and
    boto3's internal retry of that request then surfaces 412 from OUR
    OWN write — the adapter must issue the conditional PUT through a
    client with internal retries DISABLED
    (``Config(retries={'total_max_attempts': 1})``) so every attempt
    reaches :class:`RetryingStoreClient`'s read-back recovery instead
    of trusting a bare 412. All four are linearizable here (one lock),
    matching S3's strong read-after-write consistency model.
    """

    def __init__(self, page_size: int | None = None) -> None:
        self._objects: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self._page_size = page_size

    def put_if_none_match(self, key: str, body: bytes) -> bool:
        with self._lock:
            if key in self._objects:
                return False
            self._objects[key] = bytes(body)
            return True

    def get(self, key: str) -> bytes:
        with self._lock:
            return self._objects[key]  # KeyError = NoSuchKey

    def list(self, prefix: str) -> list[str]:
        if self._page_size is None:
            with self._lock:
                return sorted(
                    k for k in self._objects if k.startswith(prefix)
                )
        # paginated form: drain pages exactly like the boto3 paginator
        # (ContinuationToken = last key of the previous page)
        out: list[str] = []
        token: str | None = None
        while True:
            page, token = self._list_page(prefix, token)
            out.extend(page)
            if token is None:
                return out

    def _list_page(
        self, prefix: str, token: str | None
    ) -> tuple[list[str], str | None]:
        """One ``list_objects_v2`` page: ≤ page_size keys after ``token``,
        plus the next continuation token (None = final page)."""
        with self._lock:
            keys = sorted(k for k in self._objects if k.startswith(prefix))
        if token is not None:
            keys = [k for k in keys if k > token]
        page = keys[: self._page_size]
        more = len(keys) > len(page)
        return page, (page[-1] if more and page else None)

    def delete(self, key: str) -> None:
        with self._lock:
            self._objects.pop(key, None)

    # test hook, NOT part of the client protocol: plant a foreign key the
    # way an external tool writing the bucket directly would
    def force_put(self, key: str, body: bytes) -> None:
        with self._lock:
            self._objects[key] = bytes(body)


class FaultInjectingObjectStore:
    """Deterministic fault wrapper over any store client — the
    in-process realization of S3's failure modes for the contract suite
    (VERDICT r8 item 4). Two knobs:

    - ``throttle_every=N``: every Nth invocation of EACH method raises
      :class:`TransientStoreError` BEFORE executing (pure 503 SlowDown —
      the server did nothing). Counted per method so every call sees
      faults regardless of call mix.
    - ``fault_plan``: per-method list of tokens consumed one per call,
      overriding the counter — ``"throttle"`` (raise before executing),
      ``"ambiguous"`` (``put_if_none_match`` only: EXECUTE the PUT
      server-side, then raise — the request whose response was lost, the
      one failure internal retries cannot hide), ``"ok"`` (no fault).
      Exhausted plans fall back to ``throttle_every``.

    Thread-safe; wrap with :class:`RetryingStoreClient` to absorb the
    injected faults the way a configured boto3 client would."""

    def __init__(
        self,
        inner,
        throttle_every: int | None = None,
        fault_plan: dict[str, list[str]] | None = None,
    ) -> None:
        self._inner = inner
        self._every = throttle_every
        self._plan = {k: list(v) for k, v in (fault_plan or {}).items()}
        self._calls: dict[str, int] = {}
        self._lock = threading.Lock()

    def _fault(self, method: str) -> str:
        with self._lock:
            plan = self._plan.get(method)
            if plan:
                return plan.pop(0)
            n = self._calls.get(method, 0) + 1
            self._calls[method] = n
            if self._every and n % self._every == 0:
                return "throttle"
            return "ok"

    def put_if_none_match(self, key: str, body: bytes) -> bool:
        tok = self._fault("put_if_none_match")
        if tok == "throttle":
            raise TransientStoreError("503 SlowDown (put, not applied)")
        if tok == "ambiguous":
            self._inner.put_if_none_match(key, body)
            raise TransientStoreError("timeout (put APPLIED server-side)")
        return self._inner.put_if_none_match(key, body)

    def get(self, key: str) -> bytes:
        if self._fault("get") != "ok":
            raise TransientStoreError("503 SlowDown (get)")
        return self._inner.get(key)

    def list(self, prefix: str) -> list[str]:
        if self._fault("list") != "ok":
            raise TransientStoreError("503 SlowDown (list)")
        return self._inner.list(prefix)

    def delete(self, key: str) -> None:
        if self._fault("delete") != "ok":
            raise TransientStoreError("503 SlowDown (delete)")
        self._inner.delete(key)

    def force_put(self, key: str, body: bytes) -> None:
        self._inner.force_put(key, body)


class RetryingStoreClient:
    """The documented client-side retry behavior, in-process: what a
    boto3 adapter with standard internal retries on reads but internal
    retries DISABLED on the conditional PUT (see :class:`S3ObjectStore`)
    plus the conditional-PUT read-back does. ``get``/``list``/
    ``delete`` simply retry :class:`TransientStoreError` up to
    ``max_attempts``.

    ``put_if_none_match`` adds AMBIGUOUS-OUTCOME RECOVERY: when any
    attempt raised (outcome unknown — the server may have applied the
    PUT before the response was lost) and a later attempt returns False
    (412), the 412 may be our own earlier write. Read the key back and
    compare: body == payload ⇒ the PUT succeeded and this commit WON.
    The equality test is sound ownership here because commit bodies are
    version names unique per writer (the version DIRECTORY is an atomic
    os.mkdir claim — no two writers ever PUT the same body for one
    table), so a matching body can only be ours. Without this recovery a
    checked commit would treat its own win as a conflict, delete its
    snapshot, and leave the head naming deleted data — the failure
    tests/test_arbiter_contract.py::test_ambiguous_put_is_recovered_as_win
    pins closed."""

    def __init__(self, store, max_attempts: int = 10) -> None:
        self._store = store
        self._max = max_attempts

    def _retry(self, fn, *args):
        last: Exception | None = None
        for _ in range(self._max):
            try:
                return fn(*args)
            except TransientStoreError as e:
                last = e
        raise last  # budget exhausted — surface the 503

    def put_if_none_match(self, key: str, body: bytes) -> bool:
        ambiguous = False
        last: Exception | None = None
        for _ in range(self._max):
            try:
                won = self._store.put_if_none_match(key, body)
            except TransientStoreError as e:
                ambiguous = True
                last = e
                continue
            if won or not ambiguous:
                return won
            # 412 after an ambiguous attempt: read back — ours?
            try:
                return self._retry(self._store.get, key) == bytes(body)
            except KeyError:
                return False  # concurrently pruned — not a win we need
        raise last

    def get(self, key: str) -> bytes:
        return self._retry(self._store.get, key)

    def list(self, prefix: str) -> list[str]:
        return self._retry(self._store.list, prefix)

    def delete(self, key: str) -> None:
        return self._retry(self._store.delete, key)

    def force_put(self, key: str, body: bytes) -> None:
        self._store.force_put(key, body)


class S3ObjectStore:
    """The thin boto3 realization of the four-call client protocol —
    ``ObjectStoreCASArbiter(RetryingStoreClient(S3ObjectStore(bucket)))``
    is the full S3 deployment stack. Fails fast at construction when
    boto3 is absent (this image ships none), naming the dependency —
    the same fail-fast-builder pattern as ``sources/kafka.py``; every
    protocol semantics this class must honor is already contract-tested
    in-process (tests/test_arbiter_contract.py: the three-backend suite
    incl. the faulted backend this adapter's retry wrapper realizes).

    Retry division of labor: TWO clients. ``get``/``list``/``delete``
    go through a client with ``retries={'mode': 'standard'}`` (internal
    retries on idempotent reads are harmless and save wrapper
    round-trips). The conditional PUT goes through a SEPARATE client
    built with ``retries={'total_max_attempts': 1}`` — internal retries
    on a conditional PUT are a data-loss hazard: if the first attempt is
    applied server-side but its response is lost, botocore's silent
    retry hits the now-existing key and surfaces a bare 412, so
    :class:`RetryingStoreClient` never sees the ``TransientStoreError``,
    skips its ambiguous-outcome read-back, and reports the writer's own
    win as a loss (the caller then deletes a snapshot the head names —
    the exact case ``test_ambiguous_put_is_recovered_as_win`` pins).
    With internal PUT retries disabled the wrapper observes EVERY
    attempt and owns the read-back recovery. Raised
    ``TransientStoreError`` maps the retryable ClientError codes so the
    wrapper's budget applies uniformly."""

    _RETRYABLE = {
        "SlowDown",
        "Throttling",
        "ThrottlingException",
        "RequestTimeout",
        "InternalError",
        "ServiceUnavailable",
        "503",
        "500",
    }

    def __init__(self, bucket: str, client=None, put_client=None) -> None:
        if client is None:
            try:
                import boto3
                from botocore.config import Config
            except ImportError as e:  # pragma: no cover - no boto3 in image
                raise ImportError(
                    "S3ObjectStore requires boto3 (pip install boto3); "
                    "this environment ships none — use "
                    "InMemoryObjectStore for in-process deployments or "
                    "LocalCASArbiter on POSIX"
                ) from e
            client = boto3.client(
                "s3", config=Config(retries={"mode": "standard"})
            )
            if put_client is None:  # pragma: no cover - no boto3 in image
                # Conditional PUTs MUST NOT be retried inside botocore
                # (see class docstring): one attempt per wrapper call.
                put_client = boto3.client(
                    "s3", config=Config(retries={"total_max_attempts": 1})
                )
        self._c = client
        if put_client is None:
            # The single-client fallback is ONLY safe for clients with no
            # internal retry loop (in-process test fakes): a real botocore
            # client retrying a conditional PUT internally reintroduces
            # the applied-then-retried bare-412 data-loss hazard the
            # two-client split exists to close (see class docstring). A
            # caller injecting a real client (custom region/credentials)
            # must therefore pass a put_client built with
            # retries={'total_max_attempts': 1} — detected by duck-typing
            # botocore's client.meta.config.retries; a fake without that
            # shape, or a client whose own config already disables
            # retries, keeps the fallback (ADVICE r10, medium).
            cfg = getattr(getattr(client, "meta", None), "config", None)
            if cfg is not None:  # the botocore shape → retries exist
                retries = getattr(cfg, "retries", None)
                if isinstance(retries, dict):
                    # ONLY total_max_attempts == 1 (or its exact alias
                    # max_attempts == 0) disables the internal loop:
                    # botocore's 'max_attempts' EXCLUDES the initial
                    # request, so retries={'max_attempts': 1} normalizes
                    # to total_max_attempts = 2 — one silent internal
                    # retry, which is precisely the applied-then-retried
                    # bare-412 hazard this guard closes (ADVICE r11).
                    tma = retries.get("total_max_attempts")
                    safe = (
                        tma == 1
                        if tma is not None
                        else retries.get("max_attempts") == 0
                    )
                else:
                    safe = False  # None/unset = botocore's DEFAULT retries
                if not safe:
                    raise ValueError(
                        "S3ObjectStore: the injected client retries "
                        f"internally (retries={retries!r}; unset means "
                        "botocore's default retry loop); pass put_client="
                        "boto3.client('s3', config=Config(retries={'total"
                        "_max_attempts': 1})) — internal retries on a "
                        "conditional PUT can mask an applied write as a "
                        "bare 412 and lose the commit (class docstring); "
                        "note retries={'max_attempts': 1} does NOT "
                        "qualify: botocore's max_attempts excludes the "
                        "initial request, so it still means one internal "
                        "retry"
                    )
        self._put_c = put_client if put_client is not None else client
        self._bucket = bucket

    @staticmethod
    def _err_code(e: Exception) -> str | None:
        """ClientError duck-typing (works with real botocore AND the
        in-process fake clients the adapter tests use — botocore is not
        importable in this image): a boto3 service error carries
        ``e.response['Error']['Code']``; anything without that shape is
        not a service error and re-raises unmapped."""
        resp = getattr(e, "response", None)
        if isinstance(resp, dict):
            return resp.get("Error", {}).get("Code", "")
        return None

    def _map(self, e: Exception) -> Exception:
        code = self._err_code(e)
        if code in self._RETRYABLE:
            return TransientStoreError(code)
        return e

    def put_if_none_match(self, key: str, body: bytes) -> bool:
        try:
            self._put_c.put_object(
                Bucket=self._bucket, Key=key, Body=body, IfNoneMatch="*"
            )
            return True
        except Exception as e:
            code = self._err_code(e)
            if code is None:
                raise
            if code in ("PreconditionFailed", "412"):
                return False
            raise self._map(e) from e

    def get(self, key: str) -> bytes:
        try:
            return self._c.get_object(Bucket=self._bucket, Key=key)[
                "Body"
            ].read()
        except Exception as e:
            code = self._err_code(e)
            if code is None:
                raise
            if code in ("NoSuchKey", "404"):
                raise KeyError(key) from e
            raise self._map(e) from e

    def list(self, prefix: str) -> list[str]:
        try:
            out: list[str] = []
            paginator = self._c.get_paginator("list_objects_v2")
            for page in paginator.paginate(
                Bucket=self._bucket, Prefix=prefix
            ):
                out.extend(o["Key"] for o in page.get("Contents", []))
            return out
        except Exception as e:
            if self._err_code(e) is None:
                raise
            raise self._map(e) from e

    def delete(self, key: str) -> None:
        try:
            self._c.delete_object(Bucket=self._bucket, Key=key)
        except Exception as e:
            if self._err_code(e) is None:
                raise
            raise self._map(e) from e

    def force_put(self, key: str, body: bytes) -> None:
        """Unconditional PUT — the test/tooling hook the other store
        implementations expose (foreign-commit planting); never used by
        the commit path, so the standard-retry client is fine."""
        self._c.put_object(Bucket=self._bucket, Key=key, Body=body)


class ObjectStoreCASArbiter:
    """``LocalCASArbiter``'s contract over an object store: one
    conditional PUT per commit sequence, derived head, tolerant scans.

    Differences from the POSIX realization are all simplifications:
    there is no temp-claim staging (a conditional PUT is one atomic
    call, so the ``.claim`` grace timer and its prune sweep don't
    exist), and a torn commit record is impossible by store contract
    (a PUT is all-or-nothing). Foreign-named keys under ``_commits/``
    are tolerated exactly as locally: non-decimal names are ignored,
    non-padded decimal spellings are served by head() and pruned by
    their listed name (ADVICE r7 parity).
    """

    def __init__(self, store, prefix: str = "rdw") -> None:
        self._store = store
        self._prefix = prefix.rstrip("/")

    def _dir(self, path: str) -> str:
        # the table's local path IS the namespace: quote it into one key
        # segment so distinct paths can never collide or nest
        return f"{self._prefix}/{quote(path, safe='')}/_commits/"

    def committed(self, path: str) -> dict[int, str]:
        """All committed sequences → version names (empty before the
        first commit)."""
        out: dict[int, str] = {}
        d = self._dir(path)
        for key in self._store.list(d):
            name = key[len(d):]
            if not (name.isascii() and name.isdigit()):
                continue
            try:
                out[int(name)] = self._store.get(key).decode("utf-8").strip()
            except KeyError:
                continue  # concurrently pruned
        return out

    def head(self, path: str) -> tuple[int, str | None]:
        """(max committed sequence, its version) — (0, None) before the
        first commit.
        One list + ONE get, re-listing if the max was concurrently
        pruned — the same hot-path shape as the local head()."""
        d = self._dir(path)
        while True:
            numbered = [
                (int(k[len(d):]), k)
                for k in self._store.list(d)
                if k[len(d):].isascii() and k[len(d):].isdigit()
            ]
            if not numbered:
                return 0, None
            seq, key = max(numbered)
            try:
                return seq, self._store.get(key).decode("utf-8").strip()
            except KeyError:
                continue  # concurrently pruned — re-derive

    def put_if_absent(self, path: str, seq: int, version: str) -> bool:
        """Commit ``version`` as sequence ``seq`` via ONE conditional PUT
        (``If-None-Match: *``); False = the sequence was taken (412)."""
        return self._store.put_if_none_match(
            self._dir(path) + f"{seq:010d}", version.encode("utf-8")
        )

    def prune(self, path: str, keep_newest: int) -> None:
        """Drop sequence keys beyond the newest ``keep_newest`` DISTINCT
        sequences, deleting by listed name (duplicate spellings of a
        kept sequence are kept with it — local-parity, ADVICE r7)."""
        d = self._dir(path)
        numbered = sorted(
            (
                (int(k[len(d):]), k)
                for k in self._store.list(d)
                if k[len(d):].isascii() and k[len(d):].isdigit()
            ),
            reverse=True,
        )
        kept: set[int] = set()
        for s, key in numbered:
            if s in kept or len(kept) < max(keep_newest, 1):
                kept.add(s)
                continue
            self._store.delete(key)
