"""Source access: the one module that maps a url to a transport.

:func:`url_kind` classifies every path as local, http or object store,
and :func:`store_for` is the one scheme -> :class:`~.zarrio.Store`
dispatch (local, http, S3/GCS-interop SigV4, GCS OAuth2, Azure) that
zarr IO, targets, byte-range reads and output streams go through. The
readers take their transport from here: :func:`open_seekable` for the
header walkers, :func:`url_range_get` for reference chunk reads,
:func:`ref_url` for the url a kerchunk reference carries.

Parity layer for reference ``pangeo_forge_recipes/storage.py:74-228``:
``FSSpecTarget`` becomes a thin path-rooted target over the engine's
:class:`~.zarrio.Store` interface (keys are relative paths whether the
root is a local directory or an object-store prefix).
"""

from __future__ import annotations

import base64
import hashlib
import os
import re
import shutil
import time
import unicodedata
import urllib.error
import urllib.request
from collections import OrderedDict
from dataclasses import dataclass, field, replace
from typing import Iterator
from urllib.parse import urlparse

from .zarrio import LocalStore, Store

_HTTP_TIMEOUT_S = 30.0


def _slugify(value: str) -> str:
    """Filesystem-safe slug of a url (reference ``storage.py:212-219``)."""
    value = str(value)
    value = unicodedata.normalize("NFKD", value).encode("ascii", "ignore").decode("ascii")
    value = re.sub(r"[^.\w\s-]+", "_", value.lower())
    return re.sub(r"[-\s]+", "-", value).strip("-_")


def _hash_path(path: str) -> str:
    """md5 slug for flat cache filenames (reference ``storage.py:74-75``)."""
    return hashlib.md5(path.encode()).hexdigest()


def _add_query_string_secrets(fname: str, secrets: dict) -> str:
    """Append secret query-string params at open time (reference
    ``storage.py:222-228``)."""
    parsed = urlparse(fname)
    query = parsed.query
    for k, v in secrets.items():
        piece = f"{k}={v}"
        query = f"{query}&{piece}" if query else piece
    return parsed._replace(query=query).geturl()


#: url schemes the native object-store clients serve (s3io/gcsio/azureio)
_OBJECT_SCHEMES = ("s3", "gs", "abfs", "abfss", "az")
#: the adlfs conventions the reference's fsspec contract accepts
#: (reference ``storage.py:16``)
_AZURE_SCHEMES = ("abfs", "abfss", "az")


def url_scheme(path: str) -> str:
    """Transport scheme of a path: ``http``/``https`` or an object-store
    scheme (``s3``, ``gs``, ``abfs``, ``abfss``, ``az``), else ``""`` — a
    local path or ``file://`` url. A local filename's ``?``, ``#`` or
    ``:`` is never read as url syntax."""
    scheme, sep, _ = str(path).partition("://")
    if sep and scheme in ("http", "https") + _OBJECT_SCHEMES:
        return scheme
    return ""


def url_kind(path: str) -> str:
    """``"local"``, ``"http"`` or ``"object"``: the transport a path
    takes. Every module asks this module, never the url string."""
    scheme = url_scheme(path)
    if not scheme:
        return "local"
    return "http" if scheme in ("http", "https") else "object"


def is_http_url(path: str) -> bool:
    """True for http(s):// urls."""
    return url_kind(path) == "http"


def is_object_url(path: str) -> bool:
    """Any object-store url this engine reads/writes natively."""
    return url_kind(path) == "object"


def is_remote_url(path: str) -> bool:
    """True for any url this engine reads over the network in place."""
    return url_kind(path) != "local"


def local_path(url: str) -> str:
    """Filesystem path of a local path or ``file://`` url."""
    url = str(url)
    return url[len("file://") :] if url.startswith("file://") else url


def ref_url(path: str) -> str:
    """The url kerchunk references into ``path`` carry: a remote url as
    given (chunk reads range-GET the source), a local path as an
    absolute ``file://`` url."""
    if is_remote_url(path):
        return str(path)
    return f"file://{os.path.abspath(local_path(path))}"


def store_for(url: str, **kwargs) -> Store:
    """:class:`Store` for a root url — the one scheme dispatch:
    ``http(s)://`` -> read-only :class:`HTTPStore`; ``abfs://``/
    ``abfss://``/``az://`` -> SharedKey/SAS client; ``gs://`` -> native
    OAuth2 service-account client when those credentials resolve
    (standard ``GOOGLE_APPLICATION_CREDENTIALS``), else the HMAC-interop
    SigV4 path; ``s3://`` -> SigV4 client; a local path -> LocalStore.
    ``kwargs`` are client options; omitted, credentials resolve from the
    standard environment variables."""
    scheme = url_scheme(url)
    if scheme in ("http", "https"):
        return HTTPStore(url, open_kwargs=kwargs)
    if scheme in _AZURE_SCHEMES:
        from .azureio import AzureStore

        return AzureStore(url, **_client_kwargs(_AZURE_CLIENT_KEYS, kwargs))
    if scheme == "gs":
        from .gcsio import GCSStore, oauth_credentials_available

        if oauth_credentials_available(kwargs):
            return GCSStore(url, **_client_kwargs(_GCS_CLIENT_KEYS, kwargs))
    if scheme:
        from .s3io import S3Store

        return S3Store(url, **_client_kwargs(_S3_CLIENT_KEYS, kwargs))
    return LocalStore(url)


#: the name the object-store callers use
object_store_for = store_for


@dataclass
class FSSpecTarget:
    """A storage root + optional subpath (reference ``storage.py:78-164``).

    In this engine a target is addressed by a root path string — a local
    directory or an ``s3://bucket/prefix`` url (the reference's any-fsspec
    contract; its integration suite runs against MinIO S3,
    ``tests/test_integration.py:23-47``). ``fsspec_kwargs`` carries
    object-store client options (``access_key``/``secret_key``/``region``/
    ``endpoint_url``/``path_style``) — omitted, they resolve from the
    standard AWS environment variables. ``get_mapper`` returns the
    matching :class:`Store` for zarr IO.
    """

    root_path: str
    fsspec_kwargs: dict = field(default_factory=dict)

    @classmethod
    def from_url(cls, url: str) -> "FSSpecTarget":
        return cls(root_path=url)

    def __truediv__(self, suffix: str) -> "FSSpecTarget":
        return replace(self, root_path=os.path.join(self.root_path, suffix))

    def _full_path(self, path: str) -> str:
        return os.path.join(self.root_path, path)

    @property
    def _is_object(self) -> bool:
        return is_object_url(self.root_path)

    def _rel(self, path: str) -> str:
        """Key of ``path`` relative to the root (object-store form)."""
        full = self._full_path(path)
        root = self.root_path.rstrip("/")
        if not full.startswith(root):
            raise ValueError(f"{full!r} escapes target root {root!r}")
        return full[len(root) :].lstrip("/")

    def get_mapper(self) -> Store:
        return store_for(self.root_path, **self.fsspec_kwargs)

    def exists(self, path: str) -> bool:
        if self._is_object:
            return self.get_mapper().exists(self._rel(path))
        return os.path.exists(self._full_path(path))

    def rm(self, path: str, recursive: bool = False) -> None:
        if self._is_object:
            store = self.get_mapper()
            rel = self._rel(path)
            if recursive:
                # slash-terminate so "a" never sweeps up sibling "ab"
                store.rm_prefix(rel.rstrip("/") + "/")
            store.client.delete_object(store.bucket, store._key(rel))
            return
        full = self._full_path(path)
        if recursive and os.path.isdir(full):
            shutil.rmtree(full)
        elif os.path.exists(full):
            os.remove(full)

    def makedir(self, path: str) -> None:
        if self._is_object:
            return  # object stores have no directories
        os.makedirs(self._full_path(path), exist_ok=True)

    def size(self, path: str) -> int:
        if self._is_object:
            return self.get_mapper().size(self._rel(path))
        return os.path.getsize(self._full_path(path))

    def open(self, path: str, **kwargs):
        mode = kwargs.get("mode", "rb")
        if self._is_object:
            from .s3io import S3WriteBuffer

            store = self.get_mapper()
            rel = self._rel(path)
            if "w" in mode:
                return S3WriteBuffer(store, rel)
            return store.client.open_object_stream(
                store.bucket, store._key(rel)
            )
        full = self._full_path(path)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        return open(full, **kwargs)

    def get_fsspec_remote_protocol(self) -> str:
        scheme = url_scheme(self.root_path)
        if scheme in _AZURE_SCHEMES:
            return "abfs"
        return scheme if scheme in ("s3", "gs") else "file"


class FlatFSSpecTarget(FSSpecTarget):
    """Target that stores every file at the root under an md5-slug name
    (reference ``storage.py:167-184``)."""

    def _full_path(self, path: str) -> str:
        prefix = _hash_path(str(path))
        slug = _slugify(str(path))
        new_path = "-".join([prefix, slug])
        return os.path.join(self.root_path, new_path)


class CacheFSSpecTarget(FlatFSSpecTarget):
    """Input byte cache with size-equality skip — idempotent re-runs
    (reference ``storage.py:187-209``)."""

    def cache_file(self, fname: str, secrets: dict | None, **open_kwargs) -> None:
        if self.exists(fname):
            cached_size = self.size(fname)
            remote_size = _remote_size(fname, secrets, **open_kwargs)
            if cached_size == remote_size:
                # cache hit — skip download (reference storage.py:198-205)
                return
        copy_to_target(fname, self, secrets, **open_kwargs)

    def cache_path(self, fname: str) -> str:
        return self._full_path(fname)


def _auth_headers(open_kwargs: dict | None) -> dict:
    """HTTP headers from opener kwargs. Accepts the reference-test
    conventions (``/root/reference/tests/conftest.py:203-206`` passes
    ``fsspec_open_kwargs={"auth": BasicAuth(user, pw)}``): ``auth`` as a
    ``(username, password)`` pair or any object with ``login``/``password``
    attributes, flat ``username``/``password`` kwargs, and a raw
    ``headers`` dict passed through verbatim."""
    kw = open_kwargs or {}
    headers = dict(kw.get("headers") or {})
    username = kw.get("username")
    password = kw.get("password", "")
    auth = kw.get("auth")
    if auth is not None and username is None:
        if isinstance(auth, (tuple, list)) and len(auth) == 2:
            username, password = auth
        else:  # aiohttp.BasicAuth-shaped object
            username = getattr(auth, "login", None)
            password = getattr(auth, "password", "")
    if username is not None:
        token = base64.b64encode(f"{username}:{password}".encode()).decode()
        headers["Authorization"] = f"Basic {token}"
    return headers


# transient statuses worth retrying: throttling + server-side hiccups.
# 4xx auth/not-found failures are permanent and raise immediately.
_RETRY_STATUSES = frozenset({429, 500, 502, 503, 504})


def _retry_sleep_s(attempt: int, backoff: float, retry_after: str | None) -> float:
    """Deterministic exponential backoff (no jitter — recipe runs must
    be reproducible; fleet desynchronization comes from per-url task
    scheduling, not the retry clock). A server ``Retry-After`` seconds
    hint wins when larger, capped at 30 s."""
    delay = backoff * (2.0**attempt)
    if retry_after:
        try:
            delay = max(delay, float(retry_after))
        except ValueError:
            pass  # HTTP-date form — keep the computed backoff
    return min(delay, 30.0)


def _http_open(
    url: str,
    open_kwargs: dict | None = None,
    extra_headers: dict | None = None,
    method: str = "GET",
):
    """One stdlib-urllib HTTP request (the ``dap2io.py`` pattern — no new
    dependencies). Returns the live response: a file-like context manager.

    Transient failures retry with bounded exponential backoff — real
    archives (NASA/NOAA mirrors, CMIP nodes) throttle with 429/503 and
    drop connections under load, and at 100 TB a pipeline makes enough
    requests that "rare" resets are per-job certainties. Tunable via
    ``open_kwargs``: ``retries`` (extra attempts, default 3; 0 disables),
    ``retry_backoff`` (base seconds, default 0.5)."""
    headers = _auth_headers(open_kwargs)
    if extra_headers:
        headers.update(extra_headers)
    kw = open_kwargs or {}
    timeout = kw.get("timeout", _HTTP_TIMEOUT_S)
    retries = int(kw.get("retries", 3))
    backoff = float(kw.get("retry_backoff", 0.5))
    attempt = 0
    while True:
        req = urllib.request.Request(url, headers=headers, method=method)
        try:
            return urllib.request.urlopen(req, timeout=timeout)  # noqa: S310
        except urllib.error.HTTPError as e:
            if attempt >= retries or e.code not in _RETRY_STATUSES:
                raise
            wait = _retry_sleep_s(attempt, backoff, e.headers.get("Retry-After"))
        except (urllib.error.URLError, ConnectionError, TimeoutError) as e:
            reason = getattr(e, "reason", e)
            transient = isinstance(
                reason, (ConnectionError, TimeoutError, OSError)
            ) and not isinstance(reason, PermissionError)
            if attempt >= retries or not transient:
                raise
            wait = _retry_sleep_s(attempt, backoff, None)
        time.sleep(wait)
        attempt += 1


def http_range_get(
    url: str, offset: int, length: int, secrets: dict | None = None, **open_kwargs
) -> bytes:
    """Read ``length`` bytes at ``offset`` via one HTTP Range GET — the
    chunk-lazy fast path for references into remote files: a kerchunk
    chunk read touches O(chunk) bytes of the source, never the file."""
    if secrets:
        url = _add_query_string_secrets(url, secrets)
    end = offset + length - 1
    with _http_open(
        url, open_kwargs, extra_headers={"Range": f"bytes={offset}-{end}"}
    ) as resp:
        data = resp.read()
        # a server without Range support replies 200 with the FULL body
        # (a honored range is 206) — slice client-side so callers still
        # get exactly the window. Gating on len(data) > length instead
        # of the status would return the whole file for any offset>0
        # window extending past EOF (r8 review finding).
        if resp.status == 200:
            data = data[offset : offset + length]
    return data


class HTTPRangeFile:
    """Read-only seekable file over HTTP Range GETs with an LRU block
    cache — what lets byte-walking readers (the HDF5 header scanner)
    operate on a REMOTE archive without downloading it: a header walk
    issues a handful of block GETs instead of transferring the file.

    Contiguous uncached blocks coalesce into one Range GET; the cache
    bounds memory at ``block_size × max_blocks`` (default 16 MiB)."""

    def __init__(
        self,
        url: str,
        block_size: int = 256 * 1024,
        max_blocks: int = 64,
        secrets: dict | None = None,
        **open_kwargs,
    ):
        if secrets:
            url = _add_query_string_secrets(url, secrets)
        self.url = url
        self.block_size = int(block_size)
        self.max_blocks = int(max_blocks)
        self.open_kwargs = open_kwargs
        self._pos = 0
        self._blocks: "OrderedDict[int, bytes]" = OrderedDict()
        self.size = _remote_size(url, None, **open_kwargs)
        if self.size < 0:
            raise OSError(
                f"{url}: server reports no size (no Content-Length / "
                "Content-Range) — range reads need the total length"
            )
        self.n_requests = 0  # observability for tests/tuning

    def _range_get(self, offset: int, length: int) -> bytes:
        """One remote byte-range read — the transport hook subclasses
        override (S3RangeFile)."""
        return http_range_get(self.url, offset, length, **self.open_kwargs)

    # -- block cache ---------------------------------------------------
    def _fetch_blocks(self, first: int, last: int) -> None:
        """Fetch blocks [first, last] (inclusive), coalescing contiguous
        uncached runs into single Range GETs."""
        run_start = None
        for b in range(first, last + 2):  # +1 sentinel flushes the run
            cached = b > last or b in self._blocks
            if not cached and run_start is None:
                run_start = b
            elif cached and run_start is not None:
                lo = run_start * self.block_size
                hi = min((b * self.block_size), self.size) - 1
                data = self._range_get(lo, hi - lo + 1)
                self.n_requests += 1
                for i, blk in enumerate(range(run_start, b)):
                    s = i * self.block_size
                    self._blocks[blk] = data[s : s + self.block_size]
                run_start = None
        while len(self._blocks) > self.max_blocks:
            self._blocks.popitem(last=False)

    # -- file protocol ---------------------------------------------------
    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            n = self.size - self._pos
        n = max(0, min(n, self.size - self._pos))
        if n == 0:
            return b""
        lo, hi = self._pos, self._pos + n - 1
        first, last = lo // self.block_size, hi // self.block_size
        if last - first + 1 > self.max_blocks:
            # a read wider than the whole cache: one direct Range GET,
            # no caching — caching it would evict blocks mid-assembly
            # (the fetch loop would pop the very blocks this read needs)
            data = self._range_get(lo, n)
            self.n_requests += 1
            self._pos += n
            return data
        self._fetch_blocks(first, last)
        parts = []
        for b in range(first, last + 1):
            blk = self._blocks[b]
            self._blocks.move_to_end(b)
            s = lo - b * self.block_size if b == first else 0
            e = hi - b * self.block_size + 1 if b == last else len(blk)
            parts.append(blk[s:e])
        self._pos += n
        return b"".join(parts)

    def seek(self, offset: int, whence: int = 0) -> int:
        if whence == 0:
            self._pos = offset
        elif whence == 1:
            self._pos += offset
        elif whence == 2:
            self._pos = self.size + offset
        else:
            raise ValueError(f"whence {whence}")
        return self._pos

    def tell(self) -> int:
        return self._pos

    def close(self) -> None:
        self._blocks.clear()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
        return False


class S3RangeFile(HTTPRangeFile):
    """Read-only seekable file over S3 byte-range GETs — the same
    block-cached walker as :class:`HTTPRangeFile`, so the HDF5/netCDF3/
    GRIB header scanners operate on an object-store archive in place
    (a scan transfers O(headers), never the object)."""

    def __init__(
        self,
        url: str,
        block_size: int = 256 * 1024,
        max_blocks: int = 64,
        **open_kwargs,
    ):
        self._client, self.bucket, self.key = _object_client_parts(
            url, open_kwargs
        )
        self.url = url
        self.block_size = int(block_size)
        self.max_blocks = int(max_blocks)
        self.open_kwargs = open_kwargs
        self._pos = 0
        self._blocks = OrderedDict()
        size = self._client.head_object(self.bucket, self.key)
        if size is None:
            raise FileNotFoundError(url)
        self.size = size
        self.n_requests = 0

    def _range_get(self, offset: int, length: int) -> bytes:
        end = offset + length - 1
        return self._client.get_object(
            self.bucket, self.key, rng=f"bytes={offset}-{end}"
        )


def url_range_get(
    url: str, offset: int, length: int, secrets: dict | None = None, **open_kwargs
) -> bytes:
    """One byte-range read of a url — http(s), s3, azure, or a local
    path / ``file://`` url (seek+read)."""
    kind = url_kind(url)
    if kind == "object":
        client, bucket, key = _object_client_parts(url, open_kwargs)
        end = offset + length - 1
        return client.get_object(bucket, key, rng=f"bytes={offset}-{end}")
    if kind == "http":
        return http_range_get(url, offset, length, secrets, **open_kwargs)
    with open(local_path(url), "rb") as f:
        f.seek(offset)
        return f.read(length)


def open_range_file(url: str, **open_kwargs):
    """Block-cached seekable range-reader for a remote url (http, s3,
    or azure) — what the byte-walking format scanners open remote
    archives with."""
    if is_object_url(url):
        return S3RangeFile(url, **open_kwargs)
    return HTTPRangeFile(url, **open_kwargs)


def open_seekable(path: str):
    """Seekable binary file for a byte-walking header reader (HDF5,
    netCDF3, GRIB2): a local path opens directly; a remote url opens the
    block-cached range reader, so a header walk transfers O(headers),
    never the file."""
    if is_remote_url(path):
        return open_range_file(path)
    return open(local_path(path), "rb")


class HTTPStore(Store):
    """Read-only :class:`~.zarrio.Store` over an ``http(s)://`` prefix —
    the engine's remote-archive read path for Zarr stores served by a
    plain web server or object-store http endpoint.

    * ``get``/``exists`` are one GET/HEAD each (HEAD falls back to a
      1-byte Range GET where the server disallows it);
    * ``get_range`` is one Range GET — sharded arrays and kerchunk-style
      partial reads touch O(requested) bytes of a remote object;
    * ``list_prefix`` raises: http has no directory listing — group
      walks over http are served by CONSOLIDATED metadata (one GET of
      ``zarr.json`` / ``.zmetadata``), which the group reader prefers;
    * writes raise (read-only by construction).
    """

    def __init__(
        self,
        base_url: str,
        secrets: dict | None = None,
        open_kwargs: dict | None = None,
    ):
        self.base_url = base_url.rstrip("/")
        self.secrets = secrets
        self.open_kwargs = dict(open_kwargs or {})

    def _url(self, key: str) -> str:
        url = f"{self.base_url}/{key}"
        if self.secrets:
            url = _add_query_string_secrets(url, self.secrets)
        return url

    def get(self, key: str) -> bytes:
        try:
            with _http_open(self._url(key), self.open_kwargs) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:
            if e.code == 404:
                raise KeyError(key) from None
            raise

    def get_range(self, key: str, offset: int, length: int) -> bytes:
        return http_range_get(
            self._url(key), offset, length, **self.open_kwargs
        )

    def exists(self, key: str) -> bool:
        try:
            with _http_open(self._url(key), self.open_kwargs, method="HEAD"):
                return True
        except urllib.error.HTTPError as e:
            if e.code in (405, 501):  # HEAD not allowed — 1-byte probe
                try:
                    with _http_open(
                        self._url(key),
                        self.open_kwargs,
                        extra_headers={"Range": "bytes=0-0"},
                    ):
                        return True
                except urllib.error.HTTPError as e2:
                    if e2.code in (404, 410):
                        return False
                    if e2.code == 416:  # empty object — it exists
                        return True
                    raise
            if e.code in (404, 410):
                return False
            raise

    def list_prefix(self, prefix: str) -> Iterator[str]:
        raise NotImplementedError(
            "http stores cannot list keys — write the store with "
            "consolidated metadata (the default) so group walks are one "
            "GET of the root metadata document"
        )

    def put(self, key: str, value: bytes) -> None:
        raise NotImplementedError("HTTPStore is read-only")

    def rm_prefix(self, prefix: str) -> None:
        raise NotImplementedError("HTTPStore is read-only")


#: keys of ``open_kwargs`` that configure the S3 client (everything the
#: standard AWS env vars cover, overridable per call)
_S3_CLIENT_KEYS = (
    "access_key",
    "secret_key",
    "session_token",
    "region",
    "endpoint_url",
    "path_style",
)


_AZURE_CLIENT_KEYS = (
    "account_name",
    "account_key",
    "sas_token",
    "endpoint_url",
    "connection_string",
)


_GCS_CLIENT_KEYS = (
    "credentials_file",
    "credentials_json",
    "endpoint_url",
    "scope",
    "token_uri",
)


def _client_kwargs(keys: tuple, open_kwargs: dict | None) -> dict:
    kw = open_kwargs or {}
    return {k: kw[k] for k in keys if k in kw}


def _object_client_parts(url: str, open_kwargs: dict | None):
    """``(client, bucket_or_container, key)`` for any object-store url —
    the byte-level face of :func:`store_for` that range reads, size
    probes, streams and shard listings share."""
    store = store_for(url, **(open_kwargs or {}))
    return store.client, store.bucket, store.prefix


def _s3_open_stream(url: str, open_kwargs: dict | None):
    client, bucket, key = _object_client_parts(url, open_kwargs)
    return client.open_object_stream(bucket, key)


def _open_url_raw(fname: str, secrets: dict | None, **open_kwargs):
    """Open a source url for reading bytes: local paths, ``file://``,
    ``http(s)://`` (stdlib urllib — basic auth via ``auth``/``username``
    kwargs, query-string secrets; reference ``openers.py:16-37``), and
    ``s3://`` (native SigV4 client; credentials from the AWS env vars or
    ``access_key``/``secret_key``/``endpoint_url`` open kwargs)."""
    if secrets:
        fname = _add_query_string_secrets(fname, secrets)
    parsed = urlparse(fname)
    if parsed.scheme in ("", "file"):
        return open(parsed.path or fname, "rb")
    if parsed.scheme in ("http", "https"):
        return _http_open(fname, open_kwargs)
    if parsed.scheme in _OBJECT_SCHEMES:
        return _s3_open_stream(fname, open_kwargs)
    raise NotImplementedError(
        f"url scheme {parsed.scheme!r} is not supported; supported schemes: "
        "file://, plain paths, http://, https://, s3://, gs://, abfs://, az://"
    )


def shard_label(path: str) -> str:
    """Stable display label for a shard path: local paths keep their
    basename; urls keep host+path (query stripped) so two shards with
    the same basename under different prefixes never collapse into one
    label (review finding: presigned per-directory layouts)."""
    if is_remote_url(path):
        parsed = urlparse(path)
        return f"{parsed.netloc}{parsed.path}"
    return os.path.basename(path.rstrip("/"))


def open_shard_stream(path: str, open_kwargs: dict | None = None):
    """Readable binary stream for a shard path: http(s) urls go through
    the retrying opener (auth/secrets honored); LOCAL paths open
    directly — routing them through urlparse would misread filenames
    containing '?', '#', or a colon-bearing first segment (review
    finding)."""
    if is_remote_url(path):
        # 'secrets' rides INSIDE open_kwargs on the shard-reader surface
        # (read_tfrecord/read_webdataset docs) — pop it into the
        # positional slot or _open_url_raw sees it twice (r8 review
        # finding: query-string secrets were unusable through shards)
        kw = dict(open_kwargs or {})
        return _open_url_raw(path, kw.pop("secrets", None), **kw)
    return open(path, "rb")


def open_binary(fname: str, secrets: dict | None = None, **open_kwargs):
    """Public face of :func:`_open_url_raw`: a readable binary stream
    for a local path, ``file://``, or ``http(s)://`` url (auth/secrets/
    retries as documented on ``_http_open``). Streaming consumers (the
    TFRecord/WebDataset shard readers) use this so training shards pull
    straight off a web server."""
    return _open_url_raw(fname, secrets, **open_kwargs)


def _remote_size(fname: str, secrets: dict | None, **open_kwargs) -> int:
    """Source size for the cache's size-equality skip. Unknown sizes return
    -1, which never equals a cached size — the cache re-downloads rather
    than false-hitting."""
    if secrets:
        fname = _add_query_string_secrets(fname, secrets)
    parsed = urlparse(fname)
    if parsed.scheme in ("", "file"):
        return os.path.getsize(parsed.path or fname)
    if parsed.scheme in ("http", "https"):
        try:
            with _http_open(fname, open_kwargs, method="HEAD") as resp:
                cl = resp.headers.get("Content-Length")
                if cl is not None:
                    return int(cl)
        except urllib.error.HTTPError:
            pass  # HEAD not allowed — fall through to a 1-byte range probe
        try:
            with _http_open(
                fname, open_kwargs, extra_headers={"Range": "bytes=0-0"}
            ) as resp:
                rng = resp.headers.get("Content-Range", "")
                if "/" in rng and not rng.endswith("*"):
                    return int(rng.rsplit("/", 1)[1])
                cl = resp.headers.get("Content-Length")
                # 200 = server ignored Range, body IS the file
                if resp.status == 200 and cl is not None:
                    return int(cl)
        except urllib.error.HTTPError:
            pass
        return -1
    if parsed.scheme in _OBJECT_SCHEMES:
        client, bucket, key = _object_client_parts(fname, open_kwargs)
        n = client.head_object(bucket, key)
        return -1 if n is None else n
    raise NotImplementedError(f"size of {parsed.scheme!r} urls not supported")


def prepare_output_dir(path: str) -> None:
    """Writer-side ``makedirs`` that no-ops for object-store urls —
    shard writers call this on their output root once at the driver."""
    if not is_object_url(path):
        os.makedirs(path, exist_ok=True)


def open_output_stream(path: str, open_kwargs: dict | None = None):
    """Writable binary stream for one output object: local paths open
    a real file; object-store urls return a multipart-streaming upload
    buffer (memory stays at one part, never the object). Shard writers
    route every per-object ``open(..., "wb")`` through this."""
    if is_object_url(path):
        from .s3io import S3WriteBuffer

        scheme, _, rest = path.partition("://")
        bucket, _, key = rest.partition("/")
        store = store_for(f"{scheme}://{bucket}", **(open_kwargs or {}))
        return S3WriteBuffer(store, key)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    return open(path, "wb")


def _glob_to_regex(pat: str) -> str:
    """Translate a shell glob to a regex where ``*``/``?`` stop at ``/``
    (single-level, like pathlib/local directory globs) and ``**``
    crosses directory levels (recursive, like pathlib's ``rglob`` /
    fsspec globs) — so ``s3://b/dir/**/*.tfrecord`` keeps matching
    arbitrarily nested shards."""
    out = []
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "*":
            if pat[i : i + 2] == "**":
                # "**/" matches ZERO or more levels (pathlib rglob
                # semantics): "dir/**/*.tfrecord" must still match
                # files directly under dir/
                if pat[i : i + 3] == "**/":
                    out.append("(?:.*/)?")
                    i += 2
                else:
                    out.append(".*")
                    i += 1
            else:
                out.append("[^/]*")
        elif c == "?":
            out.append("[^/]")
        elif c == "[":
            j = pat.find("]", i + 2)  # allow leading ']' / '!' in the set
            if j == -1:
                out.append(re.escape(c))
            else:
                body = pat[i + 1 : j]
                if body.startswith("!"):
                    body = "^" + body[1:]
                out.append("[" + body + "]")
                i = j
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out) + r"\Z"


def list_shard_urls(
    path: str, suffixes: tuple, open_kwargs: dict | None = None
) -> list:
    """Expand an object-store prefix (``s3://``/``gs://``/``abfs://``/
    ``az://``) into sorted shard urls whose keys end with one of
    ``suffixes`` — the object-store analog of the local directory-glob
    branch in the shard readers. Glob semantics match pathlib: ``*`` and
    ``?`` stop at ``/`` (changed in r10 from fnmatch's slash-crossing
    ``*``); ``**`` crosses levels (``dir/**/*.tfrecord`` matches
    arbitrarily nested shards, including zero levels deep)."""
    # shard patterns are KEYS, not request urls — urlparse would treat a
    # glob '?' as the query-string separator, so recover the raw key
    scheme, _, raw = path.partition("://")
    netloc = raw.split("/", 1)[0]
    prefix = raw.split("/", 1)[1] if "/" in raw else ""
    client, bucket, _ = _object_client_parts(
        f"{scheme}://{netloc}/", open_kwargs
    )
    # urls are rebuilt with the ORIGINAL authority (which for azure may
    # carry container@account.host), not the bare bucket/container
    def _url(k: str) -> str:
        return f"{scheme}://{netloc}/{k}"
    # glob form (s3://bucket/dir/*.tfrecord): list the literal prefix
    # before the first metachar, fnmatch the keys — the object-store
    # analog of the local glob branch
    if any(ch in prefix for ch in "*?["):
        meta_at = min(prefix.index(ch) for ch in "*?[" if ch in prefix)
        literal = prefix[:meta_at]
        # single-level glob: '*'/'?' must NOT cross '/' (matches the local
        # directory-glob branch — s3://b/dir/*.tfrecord must not pick up
        # dir/sub/x.tfrecord). fnmatch's translation would.
        pat = re.compile(_glob_to_regex(prefix))
        return sorted(
            _url(k)
            for k, _ in client.list_objects(bucket, literal)
            if pat.match(k)
        )
    # exact object? (one HEAD) — callers pass either a shard url or a
    # directory-ish prefix
    if client.head_object(bucket, prefix) is not None:
        return [path]
    pfx = prefix.rstrip("/") + "/" if prefix else ""
    return sorted(
        _url(k)
        for k, _ in client.list_objects(bucket, pfx)
        if k.endswith(suffixes)
    )


def copy_to_target(
    fname: str, target: FlatFSSpecTarget, secrets: dict | None = None, **open_kwargs
) -> None:
    """Stream source bytes to the cache target in blocks (reference
    ``storage.py:20-71``)."""
    with _open_url_raw(fname, secrets, **open_kwargs) as src:
        with target.open(fname, mode="wb") as dst:
            shutil.copyfileobj(src, dst, length=16 * 1024 * 1024)
