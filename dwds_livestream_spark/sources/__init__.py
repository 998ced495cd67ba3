"""Sources (SURVEY.md §2.1): the streaming access-log directory, the
dimension loader with periodic refresh, and one spool shim per
reference transport — tail.py (one appended access.log) and
http_poll.py (the HTTP long-poll JSONL stream) — that write the
directories the streaming queries read."""
