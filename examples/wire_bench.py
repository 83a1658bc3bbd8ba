#!/usr/bin/env python
"""Wire-path throughput demo: the reference benchmark's produce/relay/consume
trio (benchmark/README.md:8-25, 100k x 256 B messages) over REAL RESP2 TCP
transport — one broker process per shard, Spark executor tasks as the
clients (the production sink/source code paths).

    python examples/wire_bench.py [n_messages] [n_shards]

Prints one JSON line per run. The reference's ~100k msgs/sec anchor
(README.md:266) is the comparison point; this demo reaches it at 4 shards
on local[32] even with the broker side being the in-repo pure-Python
server rather than a C redis-server.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    shards = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    from sea_streamer_spark.session import get_spark
    from sea_streamer_spark.streaming.wire_bench import benchmark_wire

    spark = get_spark(app_name="wire-bench-example")
    print(json.dumps(benchmark_wire(spark, n=n, n_shards=shards)))
    spark.stop()


if __name__ == "__main__":
    main()
