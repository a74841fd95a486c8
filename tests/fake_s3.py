"""In-process S3-compatible test server (the MinIO stand-in).

Implements the slice of the S3 REST API the engine's :mod:`s3io`
client speaks: object GET (with Range) / PUT / HEAD / DELETE,
ListObjectsV2 with continuation-token pagination, and multipart
upload (create / upload-part / complete / abort). Every request's
**SigV4 signature is verified by recomputation** against the
configured credentials — a wrong canonical request, missing signed
header, or bad HMAC chain in the client fails the whole suite, which
is the point: the signer is the riskiest pure-logic part of a
hand-rolled S3 client.

Mirrors the reference's MinIO integration fixture
(``/root/reference/tests/test_integration.py:23-47``) without any
external binary.
"""

from __future__ import annotations

import threading
import xml.etree.ElementTree as ET
from xml.sax.saxutils import escape
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, unquote, urlparse

from pangeo_forge_recipes_spark.s3io import (
    canonical_request_hash,
    sigv4_signature,
)

ACCESS_KEY = "test-access-key"
SECRET_KEY = "test-secret-key"
REGION = "us-east-1"


class FakeS3:
    """Threaded fake S3 endpoint. Usage::

        s3 = FakeS3()                       # serves path-style buckets
        url = f"s3://mybucket/some/prefix"  # any bucket name works
        ...client/env points at s3.endpoint...
        s3.stop()
    """

    def __init__(self, verify_signatures: bool = True):
        self.objects: dict = {}  # (bucket, key) -> bytes
        self.uploads: dict = {}  # upload_id -> {(part_number): bytes}
        self.upload_keys: dict = {}  # upload_id -> (bucket, key)
        self.lock = threading.Lock()
        self.requests: list = []  # (method, bucket, key, query) log
        self.fail_queue: list = []  # statuses consumed FIFO (retry tests)
        # (method, bucket, key, client address) -> a status to refuse that
        # one request with, or None (targeted failures in retry tests)
        self.refuse = None
        self._next_upload = [0]
        srv = self
        verify = verify_signatures

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True  # keep-alive without 40ms stalls

            def log_message(self, *a):
                pass

            # -- helpers -------------------------------------------------
            def _xml(self, status: int, body: str):
                payload = (
                    '<?xml version="1.0" encoding="UTF-8"?>' + body
                ).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/xml")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def _err(self, status: int, code: str, msg: str = ""):
                self._xml(
                    status,
                    f"<Error><Code>{code}</Code><Message>{msg}</Message></Error>",
                )

            def _parse(self):
                parsed = urlparse(self.path)
                # path-style: /bucket/key...
                parts = unquote(parsed.path).lstrip("/").split("/", 1)
                bucket = parts[0]
                key = parts[1] if len(parts) > 1 else ""
                query = dict(parse_qsl(parsed.query, keep_blank_values=True))
                return bucket, key, query, parsed

            def _check_presigned(self, query) -> bool:
                """SigV4 query-string auth (presigned urls): recompute
                the signature over the canonical request with the raw
                wire path, host-only signed headers and
                UNSIGNED-PAYLOAD, and enforce the expiry window."""
                import time as _time
                from datetime import datetime, timezone

                cred = query.get("X-Amz-Credential", "").split("/")
                if not cred or cred[0] != ACCESS_KEY:
                    self._err(403, "InvalidAccessKeyId", cred[0] if cred else "")
                    return False
                try:
                    t0 = datetime.strptime(
                        query["X-Amz-Date"], "%Y%m%dT%H%M%SZ"
                    ).replace(tzinfo=timezone.utc).timestamp()
                    if _time.time() > t0 + int(query["X-Amz-Expires"]):
                        self._err(403, "AccessDenied", "Request has expired")
                        return False
                except (KeyError, ValueError):
                    self._err(403, "AccessDenied", "bad presign params")
                    return False
                datestamp, region = cred[1], cred[2]
                parsed = urlparse(self.path)
                q = dict(parse_qsl(parsed.query, keep_blank_values=True))
                got = q.pop("X-Amz-Signature", "")
                _, creq_hash = canonical_request_hash(
                    self.command,
                    parsed.path,
                    q,
                    {"host": self.headers.get("Host", "")},
                    "UNSIGNED-PAYLOAD",
                )
                sts = "\n".join(
                    [
                        "AWS4-HMAC-SHA256",
                        query.get("X-Amz-Date", ""),
                        f"{datestamp}/{region}/s3/aws4_request",
                        creq_hash,
                    ]
                )
                want = sigv4_signature(
                    SECRET_KEY, datestamp, region, "s3", sts
                )
                if got != want:
                    self._err(403, "SignatureDoesNotMatch", "presign mismatch")
                    return False
                return True

            def _check_sig(self, query) -> bool:
                if not verify:
                    return True
                auth = self.headers.get("Authorization", "")
                if not auth.startswith("AWS4-HMAC-SHA256 "):
                    if query.get("X-Amz-Algorithm") == "AWS4-HMAC-SHA256" and (
                        "X-Amz-Signature" in query
                    ):
                        return self._check_presigned(query)
                    self._err(403, "AccessDenied", "missing SigV4 auth")
                    return False
                fields = dict(
                    kv.strip().split("=", 1)
                    for kv in auth[len("AWS4-HMAC-SHA256 ") :].split(",")
                )
                cred = fields["Credential"].split("/")
                access_key, datestamp, region = cred[0], cred[1], cred[2]
                if access_key != ACCESS_KEY:
                    self._err(403, "InvalidAccessKeyId", access_key)
                    return False
                signed = fields["SignedHeaders"].split(";")
                headers = {}
                for h in signed:
                    v = self.headers.get(h)
                    if v is None and h == "host":
                        v = self.headers.get("Host", "")
                    if v is None:
                        self._err(403, "AccessDenied", f"unsigned header {h}")
                        return False
                    headers[h] = v
                parsed = urlparse(self.path)
                # canonical uri: the raw (still-encoded) path
                _, creq_hash = canonical_request_hash(
                    self.command,
                    parsed.path,
                    dict(parse_qsl(parsed.query, keep_blank_values=True)),
                    headers,
                    self.headers.get("x-amz-content-sha256", ""),
                )
                scope = f"{datestamp}/{region}/s3/aws4_request"
                sts = "\n".join(
                    [
                        "AWS4-HMAC-SHA256",
                        self.headers.get("x-amz-date", ""),
                        scope,
                        creq_hash,
                    ]
                )
                want = sigv4_signature(SECRET_KEY, datestamp, region, "s3", sts)
                if want != fields["Signature"]:
                    self._err(403, "SignatureDoesNotMatch", "recomputed mismatch")
                    return False
                return True

            def _enter(self, query, bucket, key) -> bool:
                with srv.lock:
                    q = dict(query)
                    # surface the Range header in the log under a
                    # synthetic key so tests can assert ranged-read
                    # behavior (no real S3 query param collides)
                    rng_hdr = self.headers.get("Range")
                    if rng_hdr:
                        q["__range__"] = rng_hdr
                    srv.requests.append((self.command, bucket, key, q))
                    if srv.fail_queue:
                        status = srv.fail_queue.pop(0)
                        self._err(status, "SlowDown", "injected")
                        return False
                    refused = srv.refuse and srv.refuse(
                        self.command, bucket, key, self.client_address
                    )
                    if refused:
                        self._err(refused, "AccessDenied", "injected")
                        return False
                return self._check_sig(query)

            def _body(self) -> bytes:
                n = int(self.headers.get("Content-Length") or 0)
                return self.rfile.read(n) if n else b""

            # -- methods ---------------------------------------------------
            def do_PUT(self):
                bucket, key, query, _ = self._parse()
                body = self._body()  # read before any response
                if not self._enter(query, bucket, key):
                    return
                if "partNumber" in query and "uploadId" in query:
                    uid = query["uploadId"]
                    with srv.lock:
                        if uid not in srv.uploads:
                            return self._err(404, "NoSuchUpload", uid)
                        srv.uploads[uid][int(query["partNumber"])] = body
                    etag = f'"{len(body)}-{query["partNumber"]}"'
                    self.send_response(200)
                    self.send_header("ETag", etag)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                with srv.lock:
                    srv.objects[(bucket, key)] = body
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def do_POST(self):
                bucket, key, query, _ = self._parse()
                body = self._body()
                if not self._enter(query, bucket, key):
                    return
                if "uploads" in query:  # CreateMultipartUpload
                    with srv.lock:
                        srv._next_upload[0] += 1
                        uid = f"upload-{srv._next_upload[0]}"
                        srv.uploads[uid] = {}
                        srv.upload_keys[uid] = (bucket, key)
                    return self._xml(
                        200,
                        "<InitiateMultipartUploadResult>"
                        f"<Bucket>{bucket}</Bucket><Key>{key}</Key>"
                        f"<UploadId>{uid}</UploadId>"
                        "</InitiateMultipartUploadResult>",
                    )
                if "uploadId" in query:  # CompleteMultipartUpload
                    uid = query["uploadId"]
                    # order comes from the request XML's PartNumbers
                    root = ET.fromstring(body)
                    nums = [
                        int(p.findtext("PartNumber"))
                        for p in root.findall("Part")
                    ]
                    with srv.lock:
                        if uid not in srv.uploads:
                            return self._err(404, "NoSuchUpload", uid)
                        parts = srv.uploads.pop(uid)
                        b, k = srv.upload_keys.pop(uid)
                        missing = [n for n in nums if n not in parts]
                        if missing:
                            return self._err(400, "InvalidPart", str(missing))
                        srv.objects[(b, k)] = b"".join(parts[n] for n in nums)
                    return self._xml(
                        200,
                        "<CompleteMultipartUploadResult>"
                        f"<Key>{key}</Key>"
                        "</CompleteMultipartUploadResult>",
                    )
                self._err(400, "InvalidRequest", "unsupported POST")

            def do_GET(self):
                bucket, key, query, _ = self._parse()
                if not self._enter(query, bucket, key):
                    return
                if not key and query.get("list-type") == "2":
                    return self._list(bucket, query)
                with srv.lock:
                    data = srv.objects.get((bucket, key))
                if data is None:
                    return self._err(404, "NoSuchKey", key)
                rng = self.headers.get("Range")
                status, extra = 200, {}
                if rng and rng.startswith("bytes="):
                    lo, _, hi = rng[len("bytes=") :].partition("-")
                    total = len(data)
                    if lo:
                        start = int(lo)
                        end = min(int(hi), total - 1) if hi else total - 1
                    else:  # suffix bytes=-N
                        start = max(0, total - int(hi))
                        end = total - 1
                    if start >= total:
                        return self._err(416, "InvalidRange", rng)
                    data = data[start : end + 1]
                    status = 206
                    extra["Content-Range"] = f"bytes {start}-{end}/{total}"
                self.send_response(status)
                for k2, v in extra.items():
                    self.send_header(k2, v)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def _list(self, bucket, query):
                prefix = query.get("prefix", "")
                max_keys = int(query.get("max-keys", "1000"))
                token = query.get("continuation-token", "")
                with srv.lock:
                    keys = sorted(
                        k for (b, k) in srv.objects if b == bucket and k.startswith(prefix)
                    )
                    sizes = {
                        k: len(srv.objects[(bucket, k)]) for k in keys
                    }
                if token:
                    keys = [k for k in keys if k > token]
                page, rest = keys[:max_keys], keys[max_keys:]
                parts = [
                    "<ListBucketResult>",
                    f"<Name>{bucket}</Name><Prefix>{prefix}</Prefix>",
                    f"<KeyCount>{len(page)}</KeyCount>",
                    f"<MaxKeys>{max_keys}</MaxKeys>",
                    f"<IsTruncated>{'true' if rest else 'false'}</IsTruncated>",
                ]
                if rest:
                    parts.append(
                        f"<NextContinuationToken>{escape(page[-1])}"
                        "</NextContinuationToken>"
                    )
                for k in page:
                    parts.append(
                        f"<Contents><Key>{escape(k)}</Key>"
                        f"<Size>{sizes[k]}</Size></Contents>"
                    )
                parts.append("</ListBucketResult>")
                self._xml(200, "".join(parts))

            def do_HEAD(self):
                bucket, key, query, _ = self._parse()
                if not self._enter(query, bucket, key):
                    return
                with srv.lock:
                    data = srv.objects.get((bucket, key))
                if data is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()

            def do_DELETE(self):
                bucket, key, query, _ = self._parse()
                if not self._enter(query, bucket, key):
                    return
                if "uploadId" in query:  # AbortMultipartUpload
                    with srv.lock:
                        srv.uploads.pop(query["uploadId"], None)
                        srv.upload_keys.pop(query["uploadId"], None)
                    self.send_response(204)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                with srv.lock:
                    existed = srv.objects.pop((bucket, key), None) is not None
                self.send_response(204 if existed else 404)
                self.send_header("Content-Length", "0")
                self.end_headers()

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.httpd.server_address[1]
        self.endpoint = f"http://127.0.0.1:{self.port}"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def client_kwargs(self) -> dict:
        """Kwargs for S3Client/S3Store pointing at this endpoint."""
        return {
            "access_key": ACCESS_KEY,
            "secret_key": SECRET_KEY,
            "region": REGION,
            "endpoint_url": self.endpoint,
            "path_style": True,
        }

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()
