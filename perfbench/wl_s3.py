"""``s3_api``: a read-heavy S3 request mix through ``operators.api.serve``.

Why: every request is two to four tiny Spark jobs over the objects
layout and the small buckets/grants/parts tables, so this workload
exposes the operator code (dispatch, perms, listing, xmlio) and Spark's
per-job overhead.  It does not touch ``functions/*`` or ``streaming/*``.

One round issues each request type once; the seed picks Zipf-skewed
buckets, uniform HEAD keys over all objects, seeded HEAD misses and the
uploads.  A ListObjects request (v1 and v2) is a whole-bucket pagination
walk that follows NextMarker (v1) or the continuation token (v2) until
the listing is no longer truncated; each page is one op.
See gen.py for the basis of the mix, the page size and the skew.
"""

from __future__ import annotations

import base64
import binascii
import xml.etree.ElementTree as ET
from urllib.parse import quote

NS = "{http://s3.amazonaws.com/doc/2006-03-01/}"
KINDS = ["list_v1", "list_v2", "head_object", "head_object_miss",
         "head_bucket", "get_acl", "get_service", "list_parts"]
MAX_KEYS = 1000  # Pithos's default page size: the requests send no max-keys
MAX_WALK_PAGES = 50  # a guard against a marker that never advances


class Walk:
    """A ListObjects pagination walk over one bucket: each page's request
    follows the previous response's NextMarker (v1) or
    NextContinuationToken (v2); the walk ends when a response carries
    neither."""

    def __init__(self, spec: dict, name: str):
        self.version = int(spec["kind"][-1])
        self.bucket = spec["bucket"]
        self.name = name
        self.page = 0
        self.next = None
        self.done = False

    def request(self) -> dict:
        params = {}
        if self.version == 2:
            params["list-type"] = "2"
            if self.next:
                params["continuation-token"] = self.next
        elif self.next:
            params["marker"] = self.next
        return {"kind": f"list_v{self.version}", "bucket": self.bucket,
                "params": params, "page": self.page, "walk": self.name}

    def advance(self, out) -> None:
        """``out`` is the (status, body) of the page just served, or None."""
        self.page += 1
        ok = out is not None and out[0] == 200
        self.next = parse_listing(out[1])[2] if ok else None
        self.done = self.next is None or self.page >= MAX_WALK_PAGES


def parse_listing(xml: str) -> tuple[list, bool, str | None]:
    """(entries, IsTruncated, NextMarker or NextContinuationToken)."""
    root = ET.fromstring(xml)
    entries = []
    for el in root:
        if el.tag == NS + "Contents":
            entries.append((el.find(NS + "Key").text, "key"))
        elif el.tag == NS + "CommonPrefixes":
            entries.append((el.find(NS + "Prefix").text, "prefix"))
    nxt = root.find(NS + "NextMarker")
    if nxt is None:
        nxt = root.find(NS + "NextContinuationToken")
    return (entries, root.find(NS + "IsTruncated").text == "true",
            nxt.text if nxt is not None else None)


def _decode_token(token: str) -> str | None:
    try:
        return base64.urlsafe_b64decode(token.encode()).decode()
    except (binascii.Error, UnicodeDecodeError):
        return None


def parse_acl(xml: str) -> list:
    root = ET.fromstring(xml)
    out = []
    for g in root.iter(NS + "Grant"):
        grantee = g.find(NS + "Grantee")
        gid = grantee.find(NS + "ID")
        name = gid.text if gid is not None else grantee.find(NS + "DisplayName").text
        out.append((g.find(NS + "Permission").text, name))
    return sorted(out)


class S3Api:
    # nominal seconds per round on a 4-core box; run.py measures
    # ceil(--seconds / group_s) whole rounds or more
    group_s = 4.2

    def __init__(self, spark, inputs, layout_root: str):
        self.spark = spark
        self.inp = inputs
        self.root = layout_root
        self.model = None

    # -- set-up ------------------------------------------------------------

    def build(self, timed) -> None:
        """Build every table the requests serve from; ``timed(name, fn)``
        times one builder."""
        from pithos_spark import tables as T
        from pithos_spark.sources import store

        t = T.load_tables(self.spark, self.inp.src_dir)
        r = self.root
        timed("objects_layout", lambda: store.write_objects_layout(
            T.objects_df(t), f"{r}/objects"))
        for name, derive in (("buckets", T.buckets_df), ("grants", T.grants_df),
                             ("parts", T.parts_df)):
            timed(name, lambda d=derive, n=name: d(t).write.mode("overwrite")
                  .parquet(f"{r}/{n}"))
        self.model = {n: self.spark.read.parquet(f"{r}/{n}")
                      for n in ("objects", "buckets", "grants", "parts")}

    def wrap_layers(self, rec) -> None:
        from pithos_spark.operators import api, dispatch, listing, xmlio

        rec.wrap(dispatch, "resolve_operation", "operators.resolve_operation")
        rec.wrap(api, "authorize_request", "operators.authorize_request")
        rec.wrap(listing, "list_objects", "operators.list_objects")
        for fn in ("list_bucket", "list_bucket_v2", "list_all_my_buckets",
                   "list_upload_parts"):
            rec.wrap(xmlio, fn, f"operators.xmlio.{fn}")

    # -- requests ----------------------------------------------------------

    def stream(self):
        """Yield (group, kind, call, action, after, meta): the warm-up
        rounds are group 0, measured rounds are groups 1, 2, ...  Listing
        requests are built lazily because they follow the previous page;
        ``after(result)`` advances the walk."""
        for _, *op in self._ops(self.inp.warmup, 0, "w"):
            yield 0, *op
        yield from self._ops(self.inp.rounds, 1, "m")

    def verify(self) -> list[dict]:
        return []

    def _ops(self, rounds, first_group, tag):
        for i, rnd in enumerate(rounds):
            group = first_group + i
            for j, spec in enumerate(rnd):
                if not spec["kind"].startswith("list_v"):
                    yield group, spec["kind"], self._call(spec), None, None, spec
                    continue
                walk = Walk(spec, f"{tag}{i}-{j}")
                while not walk.done:
                    req = walk.request()
                    yield (group, req["kind"], self._call(req), None,
                           walk.advance, req)

    def _call(self, req):
        """The api.serve request for one op."""
        from pithos_spark.operators import api

        kind = req["kind"]
        tenant = self.inp.buckets.get(req.get("bucket"))
        if kind.startswith("list_v"):
            args = ("GET", f"/{req['bucket']}", req["params"])
        elif kind in ("head_object", "head_object_miss"):
            args = ("HEAD", f"/{req['bucket']}/{quote(req['key'], safe='/')}", {})
        elif kind == "head_bucket":
            args = ("HEAD", f"/{req['bucket']}", {})
        elif kind == "get_acl":
            args = ("GET", f"/{req['bucket']}", {"acl": ""})
        elif kind == "get_service":
            args = ("GET", "/", {})
            tenant = req["tenant"]
        else:  # list_parts
            args = ("GET", f"/{req['bucket']}/{quote(req['key'], safe='/')}",
                    {"uploadid": req["upload"]})
        return lambda: api.serve(self.model, *args, tenant=tenant)

    # -- answer checks (outside the timed region) --------------------------

    def check(self, records, con, expected) -> list[bool]:
        """``expected``: the generator's ``heads`` (the full row of every
        HEAD target) and ``grants`` (per bucket).  Each listing page is
        checked against the oracle page that resumes after the oracle's
        own previous page of the walk, so a walk that skips or repeats
        entries fails; NextMarker / the decoded continuation token must
        name the page's last entry, and appear only when truncated."""
        from pithos_spark import tables as T
        from pithos_spark.operators import listing

        for name in ("orders", "customer", "nation", "region", "supplier",
                     "lineitem"):
            con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.inp.src_dir}/{name}.parquet')")
        # model CTEs the requests never read still have to bind
        con.execute("CREATE OR REPLACE TABLE part (p_partkey BIGINT, p_size INT)")
        con.execute("CREATE OR REPLACE TABLE documents (doc_id BIGINT, "
                    "text VARCHAR, source VARCHAR, n_chars BIGINT)")
        ok = []
        resume = {}  # walk -> the oracle's last entry of its previous page
        for r in records:
            if r["result"] is None:
                ok.append(False)
                continue
            req, (status, payload) = r["meta"], r["result"]
            kind = req["kind"]
            if kind.startswith("list_v"):
                marker = resume.get(req["walk"]) if req["page"] else None
                rows = con.execute(T.with_model(listing.list_objects_oracle(
                    req["bucket"], "", None, marker, MAX_KEYS + 1))).fetchall()
                exp = [tuple(x) for x in rows[:MAX_KEYS]]
                truncated = len(rows) > MAX_KEYS
                resume[req["walk"]] = exp[-1][0] if exp else None
                good = status == 200
                if good:
                    entries, got_trunc, nxt = parse_listing(payload)
                    if nxt is not None and kind == "list_v2":
                        nxt = _decode_token(nxt)
                    good = ((entries, got_trunc) == (exp, truncated)
                            and nxt == (exp[-1][0] if truncated else None))
            elif kind == "head_object":
                o = expected["heads"][(req["bucket"], req["key"])]
                good = (status, payload) == (200, {
                    "ETag": f'"{o["checksum"]}"',
                    "Content-Length": str(o["size"]),
                    "Last-Modified": o["atime"],
                    "x-amz-storage-class": "STANDARD",
                })
            elif kind == "head_object_miss":
                good = (status, payload) == (404, {})
            elif kind == "head_bucket":
                good = (status, payload) == (200, {})
            elif kind == "get_acl":
                good = status == 200 and parse_acl(payload) == expected["grants"].get(
                    req["bucket"], [])
            elif kind == "get_service":
                names = [e.text for e in ET.fromstring(payload).iter(NS + "Name")]
                good = status == 200 and names == sorted(
                    b for b, t in self.inp.buckets.items() if t == req["tenant"])
            else:
                rows = con.execute(T.with_model(
                    "SELECT partno, etag, size FROM parts WHERE upload = ? "
                    "ORDER BY partno"), [req["upload"]]).fetchall()
                root = ET.fromstring(payload)
                got = [(int(p.find(NS + "PartNumber").text),
                        p.find(NS + "ETag").text.strip('"'),
                        int(p.find(NS + "Size").text))
                       for p in root.iter(NS + "Part")]
                good = status == 200 and got == [tuple(x) for x in rows]
            ok.append(bool(good))
        return ok
