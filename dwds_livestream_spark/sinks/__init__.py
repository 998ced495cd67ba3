"""Sinks (SURVEY.md §2.7): micro-batched fact-table sink (K4/K5) and
JSONL/SSE wire framing (K2/K3). Per-subscriber epm sampling (W4) is
the hub's leaky bucket, streaming/hub.py."""
