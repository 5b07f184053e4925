"""The servers bound what they accept: the GraphQL server refuses a
request body it would block on or could not hold, and the head service
queues a burst of connects instead of resetting them."""

import http.client
import json
import socket

import pytest

from zef_spark.graph.headsvc import serve
from zef_spark.graphql import make_server, serve_in_thread
from zef_spark.graphql.server import MAX_REQUEST_BYTES


class _Echo:
    def execute(self, query, variables=None):
        return {"query": query}


@pytest.fixture
def gql():
    srv = make_server(_Echo())
    serve_in_thread(srv)
    yield srv.server_address
    srv.shutdown()


def _post(addr, length, body=b""):
    conn = http.client.HTTPConnection(*addr, timeout=10)
    conn.putrequest("POST", "/graphql")
    conn.putheader("Content-Length", str(length))
    conn.endheaders()
    conn.send(body)
    r = conn.getresponse()
    return r.status, json.loads(r.read())


def test_graphql_rejects_negative_content_length(gql):
    status, body = _post(gql, -1)
    assert status == 400 and body["errors"]


def test_graphql_rejects_oversized_body(gql):
    status, body = _post(gql, MAX_REQUEST_BYTES + 1)
    assert status == 413 and body["errors"]


def test_graphql_serves_body_within_cap(gql):
    data = json.dumps({"query": "{ q }"}).encode()
    assert _post(gql, len(data), data) == (200, {"data": {"query": "{ q }"}})


def test_head_service_queues_a_burst_of_connects():
    # five writers uploading on eight threads each: 40 connects before
    # the server accepts any of them must all complete
    srv, _, _ = serve()
    socks = []
    try:
        for _ in range(40):
            socks.append(socket.create_connection(srv.server_address,
                                                  timeout=2))
    finally:
        for s in socks:
            s.close()
        srv.server_close()
