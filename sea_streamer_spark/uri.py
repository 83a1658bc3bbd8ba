"""StreamerUri / StreamUrl — backend selection by URI, as in the reference.

Mirrors the observable parsing semantics of
sea-streamer-types/src/streamer.rs:173-252 (verified against its test vectors
streamer.rs:254-392):

- ``kafka://node-a:1234,node-b:1234/stream_a,stream_b`` — multi-node cluster
  URI, comma-separated stream keys after the *last* slash.
- a ``StreamUrl`` requires a trailing ``/`` when no streams are given
  (``NoEndingSlash`` error otherwise); empty stream list after the slash is OK.
- ``stdio://`` / bare ``protocol://`` with no host is valid (loopback).
- stream keys are validated with Kafka topic rules.

The Spark side of the mapping lives in :func:`reader_config`: a URI resolves
to a (format, options) pair for ``spark.read``/``spark.readStream`` — the
analog of the runtime backend dispatch in socket/src/streamer.rs:203-245.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .model import StreamKey


class StreamUrlErr(ValueError):
    pass


class NoEndingSlash(StreamUrlErr):
    pass


class ProtocolRequired(StreamUrlErr):
    pass


class NotOneStreamKey(StreamUrlErr):
    pass


SUPPORTED_SCHEMES = (
    "kafka", "redis", "rediss", "redis+fake", "iggy", "iggy+fake",
    "file", "stdio", "memory", "socket",
)


@dataclass(frozen=True)
class StreamerUri:
    """URI of a streaming server; a cluster may have multiple nodes."""

    protocol: str | None
    nodes: tuple[str, ...]

    @classmethod
    def parse(cls, s: str) -> "StreamerUri":
        return StreamUrl._parse(s, require_slash=False).streamer

    @property
    def scheme(self) -> str:
        if not self.protocol:
            raise ProtocolRequired("URI has no protocol")
        return self.protocol

    def __str__(self) -> str:  # Display parity (streamer.rs:88-99)
        return "(" + ",".join(self.node_urls()) + ")"

    def node_urls(self) -> list[str]:
        proto = f"{self.protocol}://" if self.protocol else ""
        return [f"{proto}{n}" for n in self.nodes]


@dataclass(frozen=True)
class StreamUrl:
    """Streamer URI plus stream key(s)."""

    streamer: StreamerUri
    streams: tuple[StreamKey, ...] = field(default_factory=tuple)

    @classmethod
    def parse(cls, s: str) -> "StreamUrl":
        return cls._parse(s, require_slash=True)

    @classmethod
    def _parse(cls, urls: str, require_slash: bool) -> "StreamUrl":
        protocol: str | None = None
        if "://" in urls:
            protocol, urls = urls.split("://", 1)
        streams_part: str | None = None
        if require_slash:
            # streams come after the LAST slash (streamer.rs:175-189)
            if "/" not in urls:
                raise NoEndingSlash(f"stream url needs a trailing slash: {urls!r}")
            urls, remaining = urls.rsplit("/", 1)
            streams_part = remaining if remaining else None
        if urls == "":
            if protocol is None:
                raise ProtocolRequired("protocol required for empty host")
            nodes: tuple[str, ...] = (".",)
        else:
            nodes = tuple(n for n in urls.split(",") if n)
        streams = (
            tuple(StreamKey(k) for k in streams_part.split(",") if k)
            if streams_part
            else ()
        )
        return cls(StreamerUri(protocol, nodes), streams)

    def stream_key(self) -> StreamKey:
        if len(self.streams) == 1:
            return self.streams[0]
        raise NotOneStreamKey(f"expected exactly one stream key, got {self.streams}")


def reader_config(url: StreamUrl | str) -> tuple[str, dict[str, str]]:
    """Resolve a stream URL to a Spark (format, options) pair.

    The runtime-dispatch analog of ``SeaStreamer::connect``
    (socket/src/streamer.rs:203-245): scheme picks the backend. This is the
    only place a scheme's host/port defaults, loopback ``fake_root``, stream
    key and Kafka bootstrap list are read; the consumer, producer and sinks
    all take their options from here.

    ``file://<dir>/<streams>`` is the envelope parquet log under ``<dir>``;
    a streaming read of it needs the envelope schema (``MESSAGE_SCHEMA``),
    and the stream filter is applied on the envelope's ``stream_key``.
    """
    if isinstance(url, str):
        url = StreamUrl.parse(url)
    scheme = url.streamer.scheme
    node = url.streamer.nodes[0]
    host, _, port = node.partition(":")
    if scheme == "kafka":
        opts = {"kafka.bootstrap.servers": ",".join(url.streamer.nodes)}
        if url.streams:
            opts["subscribe"] = ",".join(url.streams)
        return "kafka", opts
    if scheme in ("redis", "rediss", "redis+fake", "iggy", "iggy+fake"):
        iggy = scheme.startswith("iggy")
        key = str(url.stream_key()) if url.streams else ""
        opts = {"topic" if iggy else "stream_key": key}
        if scheme.endswith("+fake"):
            opts["fake_root"] = node
        else:
            opts.update(host=host or "localhost", port=port or ("8090" if iggy else "6379"))
        return ("sea_iggy" if iggy else "sea_redis"), opts
    if scheme == "file":
        return "parquet", {"path": node}
    if scheme == "stdio":
        # stdio is a line protocol on a text stream: the Spark analog is the
        # socket/text source piped through stdio.parse_lines_df — there is no
        # registered batch format ("memory" is a sink-only format and would
        # fail at load()). A bare (format, options) pair cannot express it.
        raise StreamUrlErr(
            "stdio:// has no (format, options) mapping: build it with "
            "spark.readStream.format('text'/'socket') + "
            "sea_streamer_spark.sources.stdio.parse_lines_df"
        )
    if scheme == "memory":
        # memory is a *sink-only* Spark format (the loopback S14 harness
        # writes to it and reads the named table back via spark.sql); a
        # read-side (format, options) pair does not exist.
        raise StreamUrlErr(
            "memory:// is sink-only: write with writeStream.format('memory')"
            ".queryName(k) and read back via spark.table(k)"
        )
    if scheme == "socket":
        return "socket", {"host": host, "port": port or "9999"}
    raise StreamUrlErr(f"unsupported scheme {scheme!r} (supported: {SUPPORTED_SCHEMES})")
