"""Live-broker end-to-end smoke — runs ONLY when $NATS_URL points at a real
nats-server with JetStream (e.g. `docker compose up nats mock-ingest`, see
docker-compose.yml). Skips cleanly in environments without a broker or
without nats-py; everything it exercises also runs against scripted fakes
in test_nats_transport.py / test_nats_source.py.

Mirrors the reference's mock-ingest loop (docker-compose.yml:16-34):
publish JSON posts to the input stream, run the full service once
(`python -m nats_stream_processor_spark --once`), assert enriched messages
landed on the output stream with the reference's routed subjects.
"""

from __future__ import annotations

import json
import os
import tempfile
import uuid

import pytest

NATS_URL = os.environ.get("NATS_URL", "")
_skip_reason = None
if not NATS_URL or NATS_URL.startswith("mem://"):
    _skip_reason = (
        "needs a live nats-server with JetStream; unlock with: "
        "`docker compose up -d nats && NATS_URL=nats://localhost:4222 "
        "pytest tests/test_broker_smoke.py` (or any reachable broker URL)")
else:
    try:
        import nats  # noqa: F401
    except ImportError:
        _skip_reason = ("needs the nats-py client; unlock with: "
                        "`pip install nats-py` (broker already configured "
                        f"at {NATS_URL})")

pytestmark = [pytest.mark.env_gated,
              pytest.mark.skipif(_skip_reason is not None,
                                 reason=_skip_reason or "")]

POSTS = [
    {"uri": f"at://smoke/{i}", "cid": f"c{i}", "author": "did:plc:smoke",
     "text": t}
    for i, t in enumerate([
        "This is a great day! I love the sunshine and good vibes.",
        "I hate this weather, it is awful and everything is terrible.",
        "The game last night went to overtime, what a match for the team.",
        "New model release claims state of the art results on every bench.",
        "",  # dropped by the empty-text filter
    ])
]


def test_full_pipeline_against_live_broker():
    from nats_stream_processor_spark.__main__ import main
    from nats_stream_processor_spark.sources.nats_transport import (
        JetStreamTransport,
    )

    run_id = uuid.uuid4().hex[:8]
    s_in, s_out = f"smoke-in-{run_id}", f"smoke-out-{run_id}"
    prefix_in = f"smoke.{run_id}.in."

    with JetStreamTransport(NATS_URL).connect() as t:
        t.ensure_stream(s_in, prefix_in)
        t.publish_many(s_in, [
            (f"{prefix_in}posts", json.dumps(p).encode(), None)
            for p in POSTS
        ])
        assert t.last_seq(s_in) >= len(POSTS)

    with tempfile.TemporaryDirectory(prefix="broker_smoke_") as tmp:
        rc = main([
            "--servers", NATS_URL,
            "--input-stream", s_in,
            "--output-stream", s_out,
            "--subject-prefix", prefix_in,
            "--checkpoint", f"{tmp}/ckpt",
            "--once",
        ])
    assert rc == 0

    with JetStreamTransport(NATS_URL).connect() as t:
        fetched = t.fetch(s_out, start_seq=1, max_msgs=100)
    enriched = [json.loads(m.data) for m in fetched]
    # Non-empty posts enriched (minus any confidence-gated ones), the
    # empty-text post filtered — exactly the reference's ack-without-publish.
    assert 1 <= len(enriched) <= 4
    valid_uris = {p["uri"] for p in POSTS if p["text"]}
    for e in enriched:
        assert e["uri"] in valid_uris
        assert e["sentiment"]["sentiment"] in ("positive", "negative", "neutral")
        assert 0.0 <= e["sentiment"]["confidence"] <= 1.0
        assert e["topics"]["top_topic"]
    # Routed subjects follow the reference's output taxonomy
    # ({prefix}.{sentiment}.{topic}, src/nats_client.py:237-240).
    assert all(m.subject.startswith("bluesky.posts.enriched.")
               for m in fetched)
