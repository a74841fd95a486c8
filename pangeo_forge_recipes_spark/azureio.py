"""Native Azure Blob Storage adapter: SharedKey/SAS client + Store.

The reference reaches Azure for free through fsspec/adlfs — its
``FSSpecTarget`` wraps any ``AbstractFileSystem`` (reference
``storage.py:16,85-86``), so ``abfs://`` archives work the moment adlfs
is installed. This container has no adlfs/azure-sdk, so the engine
carries its own minimal Blob REST client speaking the public wire
protocol (Azure Storage REST API, version 2021-08-06):

* **SharedKey** request signing (the public spec: canonicalized
  headers + canonicalized resource -> HMAC-SHA256 with the base64
  account key) and **SAS token** auth (query-string passthrough);
* GET Blob (byte ranges), Put Blob, Get Blob Properties (HEAD),
  Delete Blob, **List Blobs** with marker pagination, and the
  **Put Block / Put Block List** pair for large objects — mapped onto
  the same ``create/upload/complete/abort_multipart`` verbs the S3
  client exposes, so :class:`~.s3io.S3WriteBuffer` and
  ``Store.put_parts`` stream shards to Azure unchanged;
* Azurite/emulator path-style endpoints (``http://host:port/account``)
  and production virtual-host endpoints
  (``https://account.blob.core.windows.net``).

Credentials resolve from the standard public environment variables
(``AZURE_STORAGE_CONNECTION_STRING``, or ``AZURE_STORAGE_ACCOUNT_NAME``/
``AZURE_STORAGE_ACCOUNT`` + ``AZURE_STORAGE_ACCOUNT_KEY``/
``AZURE_STORAGE_KEY`` / ``AZURE_STORAGE_SAS_TOKEN``) or explicit kwargs.

Scale notes (100 TB): identical contract to the S3 adapter — one HTTP
round-trip per object / per 5000-key listing page over the shared
pooled keep-alive transport; region writes from Spark tasks touch
disjoint blobs; Put Block parts are 8 MiB so shard memory stays at one
part; uncommitted blocks of an aborted upload are garbage-collected
server-side (Azure's documented 7-day expiry), so abort is a no-op.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import time
import xml.etree.ElementTree as ET
from typing import Dict, Iterator, Optional, Tuple
from urllib.parse import quote, unquote, urlparse

from .s3io import S3Store, _pooled_send
from .storage import _RETRY_STATUSES

__all__ = [
    "AzureClient",
    "AzureConfig",
    "AzureError",
    "AzureStore",
    "configure_spark_azure",
    "generate_service_sas",
    "parse_azure_url",
]

_API_VERSION = "2021-08-06"
_LIST_PAGE = 5000  # List Blobs maxresults ceiling (public API limit)


def parse_azure_url(url: str) -> Tuple[Optional[str], str, str]:
    """``az://container/key`` -> ``(None, container, key)``;
    ``abfs://container@account.blob.core.windows.net/key`` ->
    ``(account, container, key)`` (the full adlfs form; ``.dfs.``
    hosts map onto the same blob endpoint)."""
    parsed = urlparse(str(url))
    if parsed.scheme not in ("abfs", "abfss", "az"):
        raise ValueError(f"not an abfs:// / az:// url: {url!r}")
    netloc = parsed.netloc
    if not netloc:
        raise ValueError(f"azure url missing container: {url!r}")
    account = None
    if "@" in netloc:
        container, host = netloc.split("@", 1)
        account = host.split(".", 1)[0]
    else:
        container = netloc
    return account, container, parsed.path.lstrip("/")


def _parse_connection_string(cs: str) -> dict:
    out = {}
    for part in cs.split(";"):
        if "=" in part:
            k, _, v = part.partition("=")
            out[k.strip()] = v.strip()
    return out


class AzureError(OSError):
    """One failed Blob REST call (status + Azure error code). Subclasses
    OSError like :class:`~.s3io.S3Error` — callers hardened with
    ``except OSError`` treat both backends identically."""

    def __init__(self, status: int, code: str, message: str, key: str = ""):
        super().__init__(f"Azure {status} {code}: {message} ({key})")
        self.status = status
        self.code = code
        self.message = message
        self.key = key

    def __reduce__(self):
        # OSError's default reduce replays (errno, strerror) — wrong
        # shape for this subclass; tasks re-raising across the Spark
        # boundary need a faithful pickle
        return (AzureError, (self.status, self.code, self.message, self.key))


class AzureConfig:
    """Account + credential resolution (explicit kwargs win over
    ``AZURE_STORAGE_CONNECTION_STRING``, which wins over the individual
    ``AZURE_STORAGE_*`` variables). ``endpoint_url`` may carry an
    Azurite-style path (``http://host:port/account``)."""

    def __init__(
        self,
        account_name: Optional[str] = None,
        account_key: Optional[str] = None,
        sas_token: Optional[str] = None,
        endpoint_url: Optional[str] = None,
        connection_string: Optional[str] = None,
    ):
        env = os.environ
        cs = connection_string or env.get("AZURE_STORAGE_CONNECTION_STRING")
        parts = _parse_connection_string(cs) if cs else {}
        self.account_name = (
            account_name
            or parts.get("AccountName")
            or env.get("AZURE_STORAGE_ACCOUNT_NAME")
            or env.get("AZURE_STORAGE_ACCOUNT")
        )
        # an explicitly-passed credential is COMPLETE: a caller who
        # hands a SAS token must not silently inherit an account key
        # from the environment (or vice versa) and end up signing with
        # the wrong scheme
        if account_key or sas_token:
            self.account_key = account_key
            self.sas_token = sas_token
        elif "AccountKey" in parts or "SharedAccessSignature" in parts:
            # a connection string that carries ANY credential is also
            # COMPLETE: a SAS-only connection string must not inherit a
            # stale AZURE_STORAGE_ACCOUNT_KEY from the environment and
            # end up SharedKey-signing with a wrong-context key
            self.account_key = parts.get("AccountKey")
            self.sas_token = parts.get("SharedAccessSignature")
        else:
            self.account_key = env.get("AZURE_STORAGE_ACCOUNT_KEY") or env.get(
                "AZURE_STORAGE_KEY"
            )
            self.sas_token = env.get("AZURE_STORAGE_SAS_TOKEN")
        self.endpoint_url = (
            endpoint_url
            or parts.get("BlobEndpoint")
            or env.get("AZURE_STORAGE_BLOB_ENDPOINT")
        )
        if not self.account_name:
            raise ValueError(
                "Azure account missing: set AZURE_STORAGE_CONNECTION_STRING "
                "or AZURE_STORAGE_ACCOUNT_NAME (or pass account_name)"
            )
        if not self.account_key and not self.sas_token:
            raise ValueError(
                "Azure credentials missing: set AZURE_STORAGE_ACCOUNT_KEY "
                "or AZURE_STORAGE_SAS_TOKEN (or pass account_key/sas_token "
                "explicitly, or put AccountKey in the connection string)"
            )
        if not self.endpoint_url:
            self.endpoint_url = (
                f"https://{self.account_name}.blob.core.windows.net"
            )

    def to_kwargs(self) -> dict:
        """Plain-dict form that survives a pickle into Spark tasks."""
        return {
            "account_name": self.account_name,
            "account_key": self.account_key,
            "sas_token": self.sas_token,
            "endpoint_url": self.endpoint_url,
        }

    def to_connection_string(self) -> str:
        bits = [f"AccountName={self.account_name}"]
        if self.account_key:
            bits.append(f"AccountKey={self.account_key}")
        if self.sas_token:
            bits.append(f"SharedAccessSignature={self.sas_token}")
        bits.append(f"BlobEndpoint={self.endpoint_url}")
        return ";".join(bits)


def configure_spark_azure(spark, config: Optional[AzureConfig] = None, **kwargs) -> None:
    """Point a SparkSession at an Azure Blob endpoint: exports
    ``AZURE_STORAGE_CONNECTION_STRING`` to the driver **and** to the
    session's Python workers (via ``sc.environment``, which ships with
    every subsequently-created plan) — the Azure twin of
    :func:`~.s3io.configure_spark_s3`."""
    cfg = config or AzureConfig(**kwargs)
    env = {"AZURE_STORAGE_CONNECTION_STRING": cfg.to_connection_string()}
    os.environ.update(env)
    spark.sparkContext.environment.update(env)


def _rfc1123_now() -> str:
    return time.strftime("%a, %d %b %Y %H:%M:%S GMT", time.gmtime())


def shared_key_signature(
    account: str,
    key_b64: str,
    method: str,
    uri_path: str,
    query: Dict[str, str],
    headers: Dict[str, str],
    content_length: int,
) -> str:
    """Blob-service SharedKey string-to-sign (public spec, service
    version >= 2015-02-21): standard-header block, then the sorted
    lowercase ``x-ms-*`` headers, then the canonicalized resource
    (``/account`` + request path + sorted ``name:value`` query lines).
    Returns the base64 HMAC-SHA256 signature.

    ``uri_path`` must be the percent-ENCODED path exactly as sent on
    the wire: Azure (and the official SDK, which signs
    ``urlparse(url).path`` verbatim) canonicalizes the encoded form, so
    decoding here would 403 any blob key needing escaping (space,
    unicode, '+', '#')."""
    std = {k.lower(): v for k, v in headers.items()}
    cl = "" if content_length == 0 else str(content_length)
    lines = [
        method,
        std.get("content-encoding", ""),
        std.get("content-language", ""),
        cl,
        std.get("content-md5", ""),
        std.get("content-type", ""),
        "",  # Date — empty: x-ms-date is signed in the x-ms block
        std.get("if-modified-since", ""),
        std.get("if-match", ""),
        std.get("if-none-match", ""),
        std.get("if-unmodified-since", ""),
        std.get("range", ""),
    ]
    for name in sorted(k for k in std if k.startswith("x-ms-")):
        lines.append(f"{name}:{std[name]}")
    resource = f"/{account}{uri_path}"
    for name in sorted(query):
        resource += f"\n{name.lower()}:{query[name]}"
    lines.append(resource)
    sts = "\n".join(lines)
    sig = hmac.new(
        base64.b64decode(key_b64), sts.encode("utf-8"), hashlib.sha256
    ).digest()
    return base64.b64encode(sig).decode()


class AzureClient:
    """Minimal synchronous Blob REST client over the same pooled
    stdlib ``http.client`` transport the S3 client uses. Method surface
    mirrors :class:`~.s3io.S3Client` (``bucket`` == container) so every
    downstream consumer — :class:`~.s3io.S3WriteBuffer`, the shard
    writers, the cache — drives either service through one contract."""

    def __init__(self, config: Optional[AzureConfig] = None, **kwargs):
        self.config = config or AzureConfig(**kwargs)
        ep = urlparse(self.config.endpoint_url)
        self._scheme = ep.scheme or "https"
        self._host = ep.netloc
        self._base_path = ep.path.rstrip("/")  # Azurite: "/account"

    # -- request plumbing --------------------------------------------------
    def _uri(self, container: str, key: str) -> str:
        path = f"{container}/{key}" if key else container
        return f"{self._base_path}/" + quote(path, safe="/")

    def _request(
        self,
        method: str,
        container: str,
        key: str,
        query: Optional[Dict[str, str]] = None,
        extra_headers: Optional[Dict[str, str]] = None,
        body: bytes = b"",
        retries: int = 3,
        backoff: float = 0.5,
    ):
        cfg = self.config
        query = dict(query or {})
        uri = self._uri(container, key)
        if cfg.sas_token and not cfg.account_key:
            for part in cfg.sas_token.lstrip("?").split("&"):
                if "=" in part:
                    k, _, v = part.partition("=")
                    query.setdefault(k, unquote(v))
        attempt = 0
        while True:
            headers = {
                "x-ms-date": _rfc1123_now(),
                "x-ms-version": _API_VERSION,
            }
            if extra_headers:
                headers.update({k.lower(): v for k, v in extra_headers.items()})
            if method in ("PUT", "POST"):
                # always emitted so SharedKey's Content-Length line and
                # the wire header agree (and zero-byte PUTs stay legal)
                headers["content-length"] = str(len(body))
            if cfg.account_key:
                headers["Authorization"] = (
                    f"SharedKey {cfg.account_name}:"
                    + shared_key_signature(
                        cfg.account_name,
                        cfg.account_key,
                        method,
                        uri,
                        query,
                        headers,
                        len(body),
                    )
                )
            qs = "&".join(
                f"{quote(k, safe='')}={quote(v, safe='')}"
                for k, v in sorted(query.items())
            )
            path_qs = uri + (f"?{qs}" if qs else "")
            try:
                resp = _pooled_send(
                    self._scheme,
                    self._host,
                    method,
                    path_qs,
                    body if method in ("PUT", "POST") else None,
                    headers,
                )
            except (ConnectionError, TimeoutError, OSError):
                if attempt >= retries:
                    raise
                resp = None
            if resp is not None:
                if resp.status < 400:
                    return resp
                err = self._error(resp, key)
                if attempt >= retries or resp.status not in _RETRY_STATUSES:
                    raise err
            time.sleep(min(backoff * (2.0**attempt), 30.0))
            attempt += 1

    @staticmethod
    def _error(resp, key: str) -> AzureError:
        code, message = str(resp.status), resp.reason or ""
        try:
            with resp:
                payload = resp.read()
            if payload:
                root = ET.fromstring(payload)
                code = root.findtext("Code") or code
                message = root.findtext("Message") or message
        except Exception:
            pass
        return AzureError(resp.status, code, message, key)

    # -- object API ---------------------------------------------------------
    def get_object(
        self, container: str, key: str, rng: Optional[str] = None
    ) -> bytes:
        extra = {"Range": rng} if rng else None
        try:
            with self._request("GET", container, key, extra_headers=extra) as resp:
                data = resp.read()
                if rng and resp.status == 200:
                    # endpoint ignored the range — slice client-side
                    lo, _, hi = rng[len("bytes=") :].partition("-")
                    if lo:
                        start = int(lo)
                        end = int(hi) + 1 if hi else len(data)
                        data = data[start:end]
                    else:  # suffix form bytes=-N
                        data = data[-int(hi) :]
                return data
        except AzureError as e:
            if e.status == 404:
                raise KeyError(f"az://{container}/{key}") from None
            raise

    def open_object_stream(self, container: str, key: str):
        """Streaming GET — returns the live response (file-like)."""
        try:
            return self._request("GET", container, key)
        except AzureError as e:
            if e.status == 404:
                raise FileNotFoundError(f"az://{container}/{key}") from None
            raise

    def put_object(self, container: str, key: str, body: bytes) -> None:
        with self._request(
            "PUT",
            container,
            key,
            extra_headers={"x-ms-blob-type": "BlockBlob"},
            body=bytes(body),
        ) as resp:
            resp.read()

    def head_object(self, container: str, key: str) -> Optional[int]:
        try:
            with self._request(
                "HEAD", container, key, retries=1
            ) as resp:
                resp.read()
                cl = resp.headers.get("Content-Length")
                return int(cl) if cl is not None else 0
        except AzureError as e:
            if e.status == 404:
                return None
            raise

    def delete_object(self, container: str, key: str) -> None:
        try:
            with self._request("DELETE", container, key) as resp:
                resp.read()
        except AzureError as e:
            if e.status != 404:
                raise

    def list_objects(
        self, container: str, prefix: str = ""
    ) -> Iterator[Tuple[str, int]]:
        """List Blobs (flat) with marker pagination — yields
        ``(name, size)`` pairs; sizes ride the listing pages so callers
        never re-HEAD."""
        marker = None
        while True:
            query = {
                "restype": "container",
                "comp": "list",
                "maxresults": str(_LIST_PAGE),
            }
            if prefix:
                query["prefix"] = prefix
            if marker:
                query["marker"] = marker
            with self._request("GET", container, "", query=query) as resp:
                root = ET.fromstring(resp.read())
            blobs = root.find("Blobs")
            if blobs is not None:
                for blob in blobs.findall("Blob"):
                    name = blob.findtext("Name")
                    size = int(
                        blob.findtext("Properties/Content-Length") or 0
                    )
                    yield name, size
            marker = root.findtext("NextMarker") or None
            if not marker:
                return

    # -- multipart (Put Block / Put Block List) ------------------------------
    # Mapped onto the S3 multipart verbs so S3WriteBuffer/put_parts work
    # verbatim: an "upload id" is a client-side prefix for this upload's
    # block ids; "etags" are the block ids themselves.
    def create_multipart(self, container: str, key: str) -> str:
        return base64.b16encode(os.urandom(8)).decode().lower()

    def upload_part(
        self,
        container: str,
        key: str,
        upload_id: str,
        part_number: int,
        body: bytes,
    ) -> str:
        block_id = base64.b64encode(
            f"{upload_id}-{part_number:06d}".encode()
        ).decode()
        with self._request(
            "PUT",
            container,
            key,
            query={"comp": "block", "blockid": block_id},
            body=bytes(body),
        ) as resp:
            resp.read()
        return block_id

    def complete_multipart(
        self, container: str, key: str, upload_id: str, etags
    ) -> None:
        parts = "".join(
            f"<Latest>{block_id}</Latest>"
            for _, block_id in sorted(etags)
        )
        body = (
            '<?xml version="1.0" encoding="utf-8"?>'
            f"<BlockList>{parts}</BlockList>"
        ).encode()
        with self._request(
            "PUT", container, key, query={"comp": "blocklist"}, body=body
        ) as resp:
            resp.read()

    def abort_multipart(self, container: str, key: str, upload_id: str) -> None:
        """No server call: uncommitted blocks are garbage-collected by
        the service (documented 7-day expiry), and block ids are scoped
        by upload_id so a retry never resurrects them."""


class AzureStore(S3Store):
    """:class:`~.zarrio.Store` over an ``az://container/prefix`` root.

    Inherits every byte-level method from :class:`~.s3io.S3Store` —
    they drive the client contract (``get/put/put_parts/list/...``)
    that :class:`AzureClient` implements 1:1; only url parsing and
    client construction differ. Same write invariants: region-aligned
    Zarr writes touch disjoint blobs, every put is an idempotent
    full-object PUT (safe under task retries)."""

    def __init__(self, root_url: str, client: Optional[AzureClient] = None, **kwargs):
        self.root_url = root_url.rstrip("/")
        account, container, prefix = parse_azure_url(self.root_url)
        if account and "account_name" not in kwargs and client is None:
            kwargs["account_name"] = account
        self.bucket = container
        self.prefix = prefix.rstrip("/")
        self._client = client or AzureClient(**kwargs)
        self._client_kwargs = self._client.config.to_kwargs()

    @property
    def client(self) -> AzureClient:
        if self._client is None:
            self._client = AzureClient(**(self._client_kwargs or {}))
        return self._client


# ===========================================================================
# service SAS generation — shareable scoped tokens (the Azure analog of
# an S3 presigned url)
# ===========================================================================


def generate_service_sas(
    container: str,
    blob: Optional[str] = None,
    permissions: str = "r",
    expiry: str = "",
    start: str = "",
    account_name: Optional[str] = None,
    account_key: Optional[str] = None,
    version: str = _API_VERSION,
) -> str:
    """Build a **service SAS** query string for one container or blob
    (public spec: the sv=2020-12-06+ string-to-sign — permissions,
    validity window, ``/blob/{account}/{container}[/{blob}]``
    canonicalized resource, and the response-header override slots,
    HMAC-SHA256 with the base64 account key). ``expiry``/``start`` are
    UTC ISO-8601 strings (``2026-01-01T00:00:00Z``). Returns
    ``sp=...&se=...&sv=...&sr=...&sig=...`` ready to append to a blob
    url or pass as ``sas_token=``; credentials default to the standard
    environment resolution."""
    cfg = AzureConfig(account_name=account_name, account_key=account_key)
    if not cfg.account_key:
        raise ValueError("SAS generation needs the account key")
    if not expiry:
        raise ValueError("SAS needs an expiry (ISO-8601 UTC)")
    resource = "b" if blob else "c"
    canonical = f"/blob/{cfg.account_name}/{container}"
    if blob:
        canonical += f"/{blob}"
    sts = "\n".join(
        [
            permissions,
            start,
            expiry,
            canonical,
            "",  # signedIdentifier (stored access policy)
            "",  # signedIP
            "https,http",  # signedProtocol
            version,
            resource,
            "",  # signedSnapshotTime
            "",  # signedEncryptionScope
            "",  # rscc (Cache-Control override)
            "",  # rscd (Content-Disposition)
            "",  # rsce (Content-Encoding)
            "",  # rscl (Content-Language)
            "",  # rsct (Content-Type)
        ]
    )
    sig = base64.b64encode(
        hmac.new(
            base64.b64decode(cfg.account_key), sts.encode("utf-8"), hashlib.sha256
        ).digest()
    ).decode()
    params = [("sp", permissions)]
    if start:
        params.append(("st", start))
    params.append(("se", expiry))
    params += [
        ("spr", "https,http"),
        ("sv", version),
        ("sr", resource),
        ("sig", sig),
    ]
    return "&".join(f"{k}={quote(v, safe='')}" for k, v in params)
