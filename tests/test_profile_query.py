"""``tools/profile_query.RoundTrips`` counts the commands a build sends
to the JVM and none of the memory deletes py4j's finalizer sends when
Python's garbage collector runs."""

from __future__ import annotations

from types import SimpleNamespace

from tools.profile_query import RoundTrips


class _FakeGatewayClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True, binary=False):
        self.sent.append(command)
        return "yv"


def test_round_trips_skip_gc_deletes():
    client = _FakeGatewayClient()
    trips = RoundTrips(SimpleNamespace(_gateway=SimpleNamespace(_gateway_client=client)))
    # what py4j's JavaObject finalizer sends: memory command, delete
    assert client.send_command("m\nd\no123\ne\n") == "yv"
    assert client.send_command("c\no0\ngetConf\ne\n") == "yv"
    assert trips.count == 1
    assert client.sent == ["m\nd\no123\ne\n", "c\no0\ngetConf\ne\n"]
