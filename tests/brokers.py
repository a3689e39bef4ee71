"""Broker helpers for connector tests: seed JSON posts onto an input
stream and read back what the service published, through the same
transport interface the connector uses (`mem://` or the scripted fake
nats-py client)."""

from __future__ import annotations

import json

from nats_stream_processor_spark.config import INPUT_STREAM, OUTPUT_STREAM
from nats_stream_processor_spark.sources.nats_transport import (
    FetchedMessage,
    open_transport,
)


def seed_posts(server: str, posts: list[dict],
               stream: str = INPUT_STREAM) -> None:
    """Publish each post as JSON on ``bluesky.posts.<last uri segment>``."""
    with open_transport(server) as t:
        t.ensure_stream(stream, "bluesky.posts")
        t.publish_many(stream, [
            (f"bluesky.posts.{p['uri'].split('/')[-1]}",
             json.dumps(p).encode(), None)
            for p in posts])


def published(server: str, stream: str = OUTPUT_STREAM) -> list[FetchedMessage]:
    """Every message on ``stream``, in sequence order."""
    with open_transport(server) as t:
        return t.fetch(stream, 1, 1_000_000)
