"""Bearer-token + ACL layer (datahub_spark.security + UdaServer
integration) — the subset of the reference's security manager its
access-matrix integration tests exercise (manager.go:440-521,
middlewares/authentication.go, authorization.go)."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from datahub_spark import store as S
from datahub_spark.script import SCRIPT_OUTPUT_SCHEMA
from datahub_spark.security import (
    AccessControl, AuthError, SecurityManager, check_granted,
    jwt_sign, jwt_verify,
)
from datahub_spark.server import UdaServer


# -- token primitives ------------------------------------------------------

def test_jwt_roundtrip_and_tamper():
    key = b"k" * 32
    tok = jwt_sign({"sub": "c1", "roles": ["client"]}, key)
    assert jwt_verify(tok, key)["sub"] == "c1"
    with pytest.raises(AuthError, match="signature"):
        jwt_verify(tok[:-2] + "xx", key)
    with pytest.raises(AuthError, match="signature"):
        jwt_verify(tok, b"other" * 7)
    with pytest.raises(AuthError, match="malformed"):
        jwt_verify("not.a", key)


def test_jwt_exp_and_alg_pinning():
    key = b"k" * 32
    old = jwt_sign({"sub": "c1", "exp": int(time.time()) - 1}, key)
    with pytest.raises(AuthError, match="expired"):
        jwt_verify(old, key)
    # alg:none confusion attack must be rejected, not trusted
    import base64

    def b64(d):
        return base64.urlsafe_b64encode(
            json.dumps(d).encode()).rstrip(b"=").decode()

    forged = f"{b64({'alg': 'none'})}.{b64({'sub': 'c1'})}."
    with pytest.raises(AuthError, match="algorithm"):
        jwt_verify(forged, key)


def test_check_granted_matrix():
    # manager.go:499-521: exact, trailing-*, write-implies-read, deny
    read_d = AccessControl("/datasets/d/entities", "read")
    star = AccessControl("/datasets/d*", "write")
    deny = AccessControl("/datasets/d*", "read", deny=True)
    assert check_granted(read_d, "/datasets/d/entities", "read")
    assert not check_granted(read_d, "/datasets/d/entities", "write")
    assert not check_granted(read_d, "/datasets/other/entities", "read")
    assert check_granted(star, "/datasets/d/changes", "read")  # write=>read
    assert check_granted(star, "/datasets/d2/entities", "write")
    assert not check_granted(deny, "/datasets/d/entities", "read")


# -- served integration ----------------------------------------------------

def _req(url, method="GET", token=None, payload=None):
    headers = {"Content-Type": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    data = json.dumps(payload).encode() if payload is not None else None
    req = urllib.request.Request(url, data=data, method=method,
                                 headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, json.loads(resp.read().decode() or "{}")
    except urllib.error.HTTPError as exc:
        return exc.code, json.loads(exc.read().decode() or "{}")


@pytest.fixture
def secured(spark, tmp_path):
    store = S.EntityStore(spark, str(tmp_path / "store"))
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:name": "one"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    store.store_entities("d", df)
    store.store_entities("secret", df)
    sec = SecurityManager(admin_client_secret="admin-pw")
    sec.add_client("reader", "reader-pw")
    sec.set_acls("reader", [AccessControl("/datasets/d*", "read")])
    sec.add_client("writer", "writer-pw")
    sec.set_acls("writer", [AccessControl("/datasets/d*", "write")])
    srv = UdaServer(store, security=sec)
    base = srv.start()
    yield base
    srv.stop()


def _token(base, cid, secret):
    code, body = _req(f"{base}/security/token", "POST",
                      payload={"client_id": cid, "client_secret": secret})
    return code, body.get("access_token")


def test_secured_server_requires_token(secured):
    base = secured
    assert _req(f"{base}/datasets")[0] == 401
    assert _req(f"{base}/datasets/d/entities")[0] == 401
    assert _req(f"{base}/datasets/d/entities", "POST", payload=[])[0] == 401
    code, _ = _token(base, "reader", "wrong-pw")
    assert code == 401
    code, _ = _token(base, "nobody", "pw")
    assert code == 401


def test_admin_bypasses_acls(secured):
    base = secured
    code, tok = _token(base, "admin", "admin-pw")
    assert code == 200 and tok
    assert _req(f"{base}/datasets", token=tok)[0] == 200
    assert _req(f"{base}/datasets/secret/entities", token=tok)[0] == 200
    code, _ = _req(f"{base}/datasets/d/entities", "POST", token=tok,
                   payload=[{"id": "e:9", "props": {}, "refs": {}}])
    assert code == 200


def test_acl_scoping_read_vs_write(secured):
    base = secured
    _, reader = _token(base, "reader", "reader-pw")
    _, writer = _token(base, "writer", "writer-pw")
    # reader: its dataset reads, everything else refused
    assert _req(f"{base}/datasets/d/entities", token=reader)[0] == 200
    assert _req(f"{base}/datasets/d/changes", token=reader)[0] == 200
    assert _req(f"{base}/datasets/secret/entities", token=reader)[0] == 403
    code, _ = _req(f"{base}/datasets/d/entities", "POST", token=reader,
                   payload=[{"id": "e:9", "props": {}, "refs": {}}])
    assert code == 403
    # writer: write grants imply read (manager.go:499-504)
    code, _ = _req(f"{base}/datasets/d/entities", "POST", token=writer,
                   payload=[{"id": "e:9", "props": {}, "refs": {}}])
    assert code == 200
    assert _req(f"{base}/datasets/d/entities", token=writer)[0] == 200
    assert _req(f"{base}/datasets/secret/entities", token=writer)[0] == 403


def test_patch_is_a_write_action(secured):
    """ADVICE r7 (high): PATCH /datasets/{name} renames the dataset — a
    mutating operation that must require a write grant, not slip
    through as a read (authorization.go:73-77 groups all mutating
    methods under 'write')."""
    base = secured
    _, reader = _token(base, "reader", "reader-pw")
    _, writer = _token(base, "writer", "writer-pw")
    code, _ = _req(f"{base}/datasets/d", "PATCH", token=reader,
                   payload={"ID": "d2"})
    assert code == 403
    # dataset is untouched by the refused rename
    assert _req(f"{base}/datasets/d/entities", token=reader)[0] == 200
    # a write grant allows it (rename within the granted d* prefix)
    code, _ = _req(f"{base}/datasets/d", "PATCH", token=writer,
                   payload={"ID": "d2"})
    assert code == 200
    assert _req(f"{base}/datasets/d2/entities", token=writer)[0] == 200


def test_unsecured_server_stays_open(spark, tmp_path):
    store = S.EntityStore(spark, str(tmp_path / "store2"))
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:name": "one"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    store.store_entities("d", df)
    srv = UdaServer(store)
    base = srv.start()
    try:
        assert _req(f"{base}/datasets")[0] == 200
    finally:
        srv.stop()


def test_opa_authorizer_delegates_allow_decision(spark, tmp_path):
    """middlewares/opa.go e2e against a stub OPA: the server posts
    {method, path, token, scopes} to /v1/data/datahub/authz/allow and
    obeys the boolean result — false is 403 ('user has no access to
    resource'), and the admin role does NOT bypass policy. Token
    validation stays local (a bad token is 401 without any OPA call)."""
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from datahub_spark.security import OpaSecurityManager

    seen: list[dict] = []
    allow = {"value": True}
    datasets = {"value": ["*"]}

    class StubOpa(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_POST(self):
            n = int(self.headers.get("Content-Length", "0"))
            body = json.loads(self.rfile.read(n).decode())
            seen.append((self.path, body))
            result = datasets["value"] if self.path.endswith("/datasets") \
                else allow["value"]
            data = json.dumps({"result": result}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

    opa_httpd = ThreadingHTTPServer(("127.0.0.1", 0), StubOpa)
    threading.Thread(target=opa_httpd.serve_forever, daemon=True).start()
    opa_url = f"http://127.0.0.1:{opa_httpd.server_address[1]}"

    store = S.EntityStore(spark, str(tmp_path / "opastore"))
    df = spark.createDataFrame(
        [("e:1", None, 0, False, {"p:name": "one"}, None, None)],
        SCRIPT_OUTPUT_SCHEMA).drop("dataset")
    store.store_entities("d", df)
    sec = OpaSecurityManager(opa_url, allow_network=True,
                             admin_client_secret="admin-pw")
    sec.add_client("client", "client-pw")
    srv = UdaServer(store, security=sec)
    base = srv.start()
    try:
        _, tok = _token(base, "client", "client-pw")
        assert tok
        # policy says yes: one allow query, then the datasets query for
        # the dataset-scoped path (doOpaCheck, opa.go:48-80)
        assert _req(f"{base}/datasets/d/entities", token=tok)[0] == 200
        (allow_path, body), (ds_path, _) = seen[-2], seen[-1]
        assert allow_path == "/v1/data/datahub/authz/allow"
        assert ds_path == "/v1/data/datahub/authz/datasets"
        assert body["input"]["method"] == "GET"
        assert body["input"]["path"] == "/datasets/d/entities"
        assert body["input"]["scopes"] == ["client"]
        assert body["input"]["token"] == tok
        # permitted-datasets scoping: a list without 'd' refuses the
        # path even though allow passed; a map {"*": true} grants all;
        # a map of names grants its keys
        datasets["value"] = ["other"]
        assert _req(f"{base}/datasets/d/entities", token=tok)[0] == 403
        datasets["value"] = {"d": {}}
        assert _req(f"{base}/datasets/d/entities", token=tok)[0] == 200
        datasets["value"] = {"*": True}
        assert _req(f"{base}/datasets/d/entities", token=tok)[0] == 200
        datasets["value"] = ["*"]
        # policy says no — 403 even for admin (OPA is the authority)
        allow["value"] = False
        assert _req(f"{base}/datasets/d/entities", token=tok)[0] == 403
        _, admin_tok = _token(base, "admin", "admin-pw")
        assert _req(f"{base}/datasets/d/entities",
                    token=admin_tok)[0] == 403
        # invalid token is 401 locally, no OPA round-trip
        n_calls = len(seen)
        assert _req(f"{base}/datasets/d/entities",
                    token="garbage.garbage.garbage")[0] == 401
        assert len(seen) == n_calls
    finally:
        srv.stop()
        opa_httpd.shutdown()
        opa_httpd.server_close()


def test_opa_authorizer_network_gate_and_outage(spark, tmp_path):
    """allow_network=False refuses without calling out; an unreachable
    OPA endpoint is 403 (opa.go:59-61 maps any query failure to 403)."""
    from datahub_spark.security import ForbiddenError, OpaSecurityManager

    sec = OpaSecurityManager("http://127.0.0.1:9", allow_network=False,
                             admin_client_secret="pw")
    tok = sec.issue_token("admin", "pw")
    with pytest.raises(ForbiddenError, match="network"):
        sec.authorize(f"Bearer {tok}", "GET", "/datasets")
    sec2 = OpaSecurityManager("http://127.0.0.1:9", allow_network=True,
                              admin_client_secret="pw")
    tok2 = sec2.issue_token("admin", "pw")
    with pytest.raises(ForbiddenError, match="opa query failed"):
        sec2.authorize(f"Bearer {tok2}", "GET", "/datasets")


def test_legacy_clientclaims_alias(secured):
    """POST /security/clientclaims and /security/clientacl — the
    reference's legacy admin-gated registration block
    (securityhandler.go:61-66) aliases both onto the client-ACL
    setter. No path param, so the client is named in the body; the
    admin role is required (MakeRoleCheckMiddleware("admin")), not
    just any write grant."""
    base = secured
    _, admin = _token(base, "admin", "admin-pw")
    _, writer = _token(base, "writer", "writer-pw")

    # non-admin refused even though it holds a write grant
    code, _ = _req(f"{base}/security/clientclaims", "POST", token=writer,
                   payload={"clientId": "reader",
                            "acls": [{"Resource": "/datasets/secret*",
                                      "Action": "read"}]})
    assert code == 403

    # admin sets the ACL through the legacy alias; it takes effect
    _, reader = _token(base, "reader", "reader-pw")
    assert _req(f"{base}/datasets/secret/entities", token=reader)[0] == 403
    code, _ = _req(f"{base}/security/clientclaims", "POST", token=admin,
                   payload={"clientId": "reader",
                            "acls": [{"Resource": "/datasets/*",
                                      "Action": "read"}]})
    assert code == 200
    assert _req(f"{base}/datasets/secret/entities", token=reader)[0] == 200

    # /security/clientacl accepts the "claims" body spelling too
    code, _ = _req(f"{base}/security/clientacl", "POST", token=admin,
                   payload={"client_id": "reader",
                            "claims": [{"Resource": "/datasets/d*",
                                        "Action": "read"}]})
    assert code == 200
    assert _req(f"{base}/datasets/secret/entities", token=reader)[0] == 403
    assert _req(f"{base}/datasets/d/entities", token=reader)[0] == 200

    # malformed bodies: missing client id
    code, _ = _req(f"{base}/security/clientacl", "POST", token=admin,
                   payload={"acls": []})
    assert code == 400


def test_legacy_clientclaims_malformed_acl_is_400(secured):
    """Review r12: non-list ACL values and non-dict entries must be a
    400 "malformed ACL list", never an escaping 500 — on BOTH the
    legacy alias and the per-client route."""
    base = secured
    _, admin = _token(base, "admin", "admin-pw")
    for bad in ("read", ["read"], [{"Resource": "/d*"}, "x"], 7):
        code, body = _req(f"{base}/security/clientclaims", "POST",
                          token=admin,
                          payload={"clientId": "reader", "acls": bad})
        assert code == 400, (bad, code, body)
    code, _ = _req(f"{base}/security/clients/reader/acl", "POST",
                   token=admin, payload=["oops"])
    assert code == 400
    # a valid list still lands
    code, _ = _req(f"{base}/security/clients/reader/acl", "POST",
                   token=admin,
                   payload=[{"Resource": "/datasets/d*", "Action": "read"}])
    assert code == 200


# -- script surface: JavaScript only -----------------------------------------

def test_package_calls_no_builtin_exec_eval_or_compile():
    """Script strings reach the JS interpreter and nothing else: no
    module under datahub_spark/ calls the builtin exec, eval or compile.
    Only bare-name calls count, so method calls such as the
    interpreter's ``self.eval`` or ``re.compile`` pass."""
    import ast
    import pathlib

    import datahub_spark

    root = pathlib.Path(datahub_spark.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Call) \
                    and isinstance(node.func, ast.Name) \
                    and node.func.id in ("exec", "eval", "compile"):
                hits.append(f"{path.relative_to(root)}:{node.lineno} "
                            f"{node.func.id}")
    assert hits == []


def test_script_endpoints_reject_python_and_scripts_that_do_not_load(
        spark, tmp_path):
    """Python source sent to every script endpoint — /query in
    JavaScript mode (POST or GET), a JavascriptTransform job and a
    virtual dataset — fails to load as JavaScript: 400, nothing
    registered or created, and the file the Python would write never
    appears. A JavaScript script without its entry function is a 400
    as well."""
    import base64

    from datahub_spark import jobs as J

    marker = tmp_path / "marker"
    py = (f"import pathlib\n"
          f"pathlib.Path({str(marker)!r}).write_text('ran')\n\n"
          f"def do_query():\n"
          f"    pathlib.Path({str(marker)!r}).write_text('ran')\n\n"
          f"def transform_entities(entities):\n"
          f"    return entities\n\n"
          f"def build_entities(params, since, limit):\n"
          f"    return 0\n")
    no_entry = "var x = 1;"
    store = S.EntityStore(spark, str(tmp_path / "store"))
    sched = J.Scheduler(J.JobState(str(tmp_path / "state.json")))
    srv = UdaServer(store, scheduler=sched)
    base = srv.start()

    def query(code, method):
        req = urllib.request.Request(
            f"{base}/query", data=json.dumps({"query": code}).encode(),
            method=method,
            headers={"Content-Type": "application/x-javascript-query"})
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status
        except urllib.error.HTTPError as exc:
            return exc.code

    def job(code):
        return _req(f"{base}/jobs", "POST", payload={
            "id": "j",
            "source": {"Type": "DatasetSource", "Name": "src"},
            "transform": {"Type": "JavascriptTransform",
                          "Code": base64.b64encode(code.encode()).decode()},
            "sink": {"Type": "DatasetSink", "Name": "out"}})[0]

    def virtual(code):
        return _req(f"{base}/datasets/v", "POST", payload={
            "VirtualDatasetConfig": {
                "Transform": base64.b64encode(code.encode()).decode()}})[0]

    try:
        for code in (py, no_entry):
            assert query(code, "POST") == query(code, "GET") == 400
            assert job(code) == 400
            assert virtual(code) == 400
        assert not marker.exists()
        assert sched.jobs == {} and _req(f"{base}/jobs")[1] == []
        assert "v" not in store.list_datasets()
    finally:
        srv.stop()
