"""S3 XML rendering / parsing (SURVEY §2.8 C14, §2.11 response shapes).

Reference: the hiccup-seq XML emitter and per-operation renderers at
src/io/pithos/xml.clj:66-130 (emitter), :153-233 (list-all-my-buckets,
list-bucket, list-upload-parts...), :291-447 (error taxonomy), and the
parsers at :32-64 (Delete / CompleteMultipartUpload).

These run driver-side on collected result pages (an S3 response body is
bounded by max-keys, never big data), so plain xml.etree is the right
tool — no reason to distribute serialization.  The *content* of each
document comes straight from the DataFrame operators' output rows.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

S3_NS = "http://s3.amazonaws.com/doc/2006-03-01/"


def _el(parent, tag, text=None):
    e = ET.SubElement(parent, tag)
    if text is not None:
        e.text = str(text)
    return e


def _render(root: ET.Element) -> str:
    return '<?xml version="1.0" encoding="UTF-8"?>' + ET.tostring(
        root, encoding="unicode"
    )


def list_all_my_buckets(owner: str, buckets: list[dict]) -> str:
    """GET Service response (xml.clj:153-163); ``buckets`` rows need
    bucket + created."""
    root = ET.Element("ListAllMyBucketsResult", xmlns=S3_NS)
    o = _el(root, "Owner")
    _el(o, "ID", owner)
    _el(o, "DisplayName", owner)
    bs = _el(root, "Buckets")
    for b in buckets:
        be = _el(bs, "Bucket")
        _el(be, "Name", b["bucket"])
        _el(be, "CreationDate", b.get("created", ""))
    return _render(root)


def list_bucket(
    bucket: str,
    prefix: str,
    delimiter: str | None,
    max_keys: int,
    entries: list[dict],
    truncated: bool,
) -> str:
    """GET Bucket (ListObjects) response (xml.clj:165-194).  ``entries``
    are the listing operator's rows: entry_type 'key' rows render as
    Contents, 'prefix' rows as CommonPrefixes; NextMarker = last entry
    name when truncated (the reference's semantics, xml.clj:180-181)."""
    root = ET.Element("ListBucketResult", xmlns=S3_NS)
    _el(root, "Name", bucket)
    _el(root, "Prefix", prefix)
    if delimiter:
        _el(root, "Delimiter", delimiter)
    _el(root, "MaxKeys", max_keys)
    _el(root, "IsTruncated", "true" if truncated else "false")
    if truncated and entries:
        _el(root, "NextMarker", entries[-1]["name"])
    for e in entries:
        if e["entry_type"] == "key":
            c = _el(root, "Contents")
            _el(c, "Key", e["name"])
            if "atime" in e:
                _el(c, "LastModified", e["atime"])
            if "checksum" in e:
                _el(c, "ETag", f'"{e["checksum"]}"')
            if "size" in e:
                _el(c, "Size", e["size"])
            _el(c, "StorageClass", e.get("storageclass", "STANDARD"))
        else:
            cp = _el(root, "CommonPrefixes")
            _el(cp, "Prefix", e["name"])
    return _render(root)


def list_bucket_v2(
    bucket: str,
    prefix: str,
    delimiter: str | None,
    max_keys: int,
    entries: list[dict],
    truncated: bool,
    start_after: str | None = None,
    continuation_token: str | None = None,
    next_token: str | None = None,
) -> str:
    """GET Bucket list-type=2 (ListObjectsV2) response: KeyCount,
    ContinuationToken echo, NextContinuationToken when truncated, and
    StartAfter echo on first pages.  (Beyond the reference — it
    predates V2 — but the entry rows are the same listing operator
    output as V1.)"""
    root = ET.Element("ListBucketResult", xmlns=S3_NS)
    _el(root, "Name", bucket)
    _el(root, "Prefix", prefix)
    if delimiter:
        _el(root, "Delimiter", delimiter)
    _el(root, "MaxKeys", max_keys)
    _el(root, "KeyCount", len(entries))
    _el(root, "IsTruncated", "true" if truncated else "false")
    if start_after is not None:
        _el(root, "StartAfter", start_after)
    if continuation_token is not None:
        _el(root, "ContinuationToken", continuation_token)
    if truncated and next_token is not None:
        _el(root, "NextContinuationToken", next_token)
    for e in entries:
        if e["entry_type"] == "key":
            c = _el(root, "Contents")
            _el(c, "Key", e["name"])
            if "checksum" in e:
                _el(c, "ETag", f'"{e["checksum"]}"')
            if "size" in e:
                _el(c, "Size", e["size"])
            _el(c, "StorageClass", e.get("storageclass", "STANDARD"))
        else:
            cp = _el(root, "CommonPrefixes")
            _el(cp, "Prefix", e["name"])
    return _render(root)


def copy_object_result(etag: str, last_modified: str) -> str:
    """CopyObjectResult (PUT Object copy response, xml.clj-style)."""
    root = ET.Element("CopyObjectResult", xmlns=S3_NS)
    _el(root, "ETag", f'"{etag}"')
    _el(root, "LastModified", last_modified)
    return _render(root)


def list_upload_parts(
    bucket: str, object_key: str, upload_id: str, parts: list[dict]
) -> str:
    """GET ?uploadId response (xml.clj:222-233)."""
    root = ET.Element("ListPartsResult", xmlns=S3_NS)
    _el(root, "Bucket", bucket)
    _el(root, "Key", object_key)
    _el(root, "UploadId", upload_id)
    for p in parts:
        pe = _el(root, "Part")
        _el(pe, "PartNumber", p["partno"])
        _el(pe, "ETag", f'"{p["etag"]}"')
        _el(pe, "Size", p["size"])
    return _render(root)


def error_response(
    code: str,
    message: str,
    request_id: str = "",
    extra: dict[str, str] | None = None,
) -> str:
    """Typed error document (xml.clj:291-447 taxonomy).  ET.tostring
    escapes text content itself — pre-escaping here double-escaped
    '&' as '&amp;amp;' (ADVICE round 1).

    ``extra`` carries the per-type payload elements.  Element order
    matches the reference byte-for-byte: every payload goes BEFORE
    RequestId/HostId — Expires/ServerTime for expired presigned requests
    (xml.clj:326-333), Key/Upload for NoSuchUpload (:334-341), Key for
    NoSuchKey (:342-348) — EXCEPT SignatureDoesNotMatch, the one
    template that appends StringToSignBytes/StringToSign after
    RequestId/HostId (:313-325)."""
    root = ET.Element("Error")
    _el(root, "Code", code)
    _el(root, "Message", message)
    payload_after = code == "SignatureDoesNotMatch"
    if not payload_after:
        for k, v in (extra or {}).items():
            _el(root, k, v)
    _el(root, "RequestId", request_id)
    _el(root, "HostId", request_id)
    if payload_after:
        for k, v in (extra or {}).items():
            _el(root, k, v)
    return _render(root)


def unknown_action(operation: str | None) -> str:
    """The template used when the operation could not be inferred
    (xml.clj:140-145): UnknownAction/Action/Code, served with 400 by
    the reference's ``unknown`` handler (operations.clj:813-818)."""
    root = ET.Element("UnknownAction", xmlns=S3_NS)
    action = _el(root, "Action")
    _el(action, "Code", operation or "no operation provided")
    return _render(root)


def string_to_sign_bytes(to_sign: str) -> str:
    """Hex-byte rendering of the canonical string for
    SignatureDoesNotMatch responses — ``(map (partial format \"%02x\"))``
    over the bytes, space-joined (xml.clj:322-324)."""
    return " ".join(f"{b:02x}" for b in to_sign.encode("utf-8"))


def initiate_multipart_upload(bucket: str, object_key: str, upload_id: str) -> str:
    """POST ?uploads response (xml.clj:196-203)."""
    root = ET.Element("InitiateMultipartUploadResult", xmlns=S3_NS)
    _el(root, "Bucket", bucket)
    _el(root, "Key", object_key)
    _el(root, "UploadId", upload_id)
    return _render(root)


def list_multipart_uploads(bucket: str, prefix: str, uploads: list[dict]) -> str:
    """GET ?uploads response (xml.clj:205-220).  ``uploads`` rows need
    object + upload (+ optional metadata['initiated'])."""
    root = ET.Element("ListMultipartUploadsResult", xmlns=S3_NS)
    _el(root, "Bucket", bucket)
    _el(root, "KeyMarker")
    _el(root, "UploadIdMarker")
    _el(root, "MaxUploads", 1000)
    _el(root, "IsTruncated", "false")
    _el(root, "Prefix", prefix)
    for u in uploads:
        ue = _el(root, "Upload")
        _el(ue, "Key", u["object"])
        _el(ue, "Initiated", (u.get("metadata") or {}).get("initiated", ""))
        _el(ue, "UploadId", u["upload"])
    return _render(root)


def complete_multipart_upload(bucket: str, object_key: str, etag: str) -> str:
    """POST ?uploadId response (xml.clj:242-250)."""
    root = ET.Element("CompleteMultipartUploadResult", xmlns=S3_NS)
    _el(root, "Bucket", bucket)
    _el(root, "Key", object_key)
    _el(root, "Location", f"http://{bucket}.s3.amazonaws.com/{object_key}")
    _el(root, "ETag", f'"{etag}"')
    return _render(root)


def copy_object(etag: str, atime: str) -> str:
    """PUT x-amz-copy-source response (xml.clj:263-269)."""
    root = ET.Element("CopyObjectResult", xmlns=S3_NS)
    _el(root, "LastModified", atime)
    _el(root, "ETag", f'"{etag}"')
    return _render(root)


ERROR_CODES = {
    # the reference's 20-error taxonomy (xml.clj:291-447), code -> HTTP status
    "AccessDenied": 403,
    "BadDigest": 400,
    "BucketAlreadyExists": 409,
    "BucketNotEmpty": 409,
    "EntityTooLarge": 400,
    "EntityTooSmall": 400,
    "IncompleteBody": 400,
    "InternalError": 500,
    "InvalidArgument": 400,
    "InvalidBucketName": 400,
    "InvalidDigest": 400,
    "InvalidPart": 400,
    "InvalidPartOrder": 400,
    "InvalidRange": 416,
    "InvalidSecurity": 403,
    "MalformedXML": 400,
    "NoSuchBucket": 404,
    "NoSuchBucketPolicy": 404,
    "NoSuchKey": 404,
    "NoSuchLifecycleConfiguration": 404,
    "NoSuchTagSet": 404,
    "NoSuchUpload": 404,
    "RequestTimeTooSkewed": 403,
    "SignatureDoesNotMatch": 403,
    # remainder of the xml.clj:291-447 dispatch table
    "InvalidRequest": 400,          # operations.clj:133
    "UploadPolicyViolation": 403,   # operations.clj:610-627
    "MalformedACLError": 400,       # :invalid-acl-xml
    "AccessForbidden": 403,         # :cors-not-enabled (operations.clj:966)
    "NoSuchCORSConfiguration": 404,  # :no-such-cors
    "IncompleteMetadata": 500,      # desc.clj:121-123
    "Forbidden": 403,
    "Unknown": 500,                 # xml.clj:443-447 fallback template
}


def parse_delete_keys(body: str) -> list[str]:
    """POST /?delete body -> key list (xml.clj:32-46).  Raises
    ValueError on a malformed document — serve() maps it to the 400
    MalformedXML response, the same contract the ACL/CORS body parsers
    carry (a raw ET.ParseError out of the dispatch is a crash, not an
    S3 error)."""
    try:
        root = ET.fromstring(body)
    except ET.ParseError as e:
        raise ValueError("malformed Delete body") from e
    return [
        obj.findtext("Key")
        for obj in root.findall(".//Object")
        if obj.findtext("Key") is not None
    ]


def parse_complete_upload(body: str) -> list[dict]:
    """CompleteMultipartUpload body -> [(partno, etag)] manifest
    (xml.clj:48-64).  Raises ValueError on malformed XML or a Part
    without a numeric PartNumber (same MalformedXML contract as
    parse_delete_keys)."""
    try:
        root = ET.fromstring(body)
    except ET.ParseError as e:
        raise ValueError("malformed CompleteMultipartUpload body") from e
    out = []
    for part in root.findall(".//Part"):
        partno_text = part.findtext("PartNumber")
        try:
            partno = int(partno_text)
        except (TypeError, ValueError) as e:
            raise ValueError(
                "malformed PartNumber in CompleteMultipartUpload body"
            ) from e
        out.append(
            {
                "partno": partno,
                "etag": (part.findtext("ETag") or "").strip('"'),
            }
        )
    return out
