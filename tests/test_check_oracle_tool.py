"""tools/check_oracle.py: the memory limit a replay-mode oracle that ran
out of memory is re-run at."""

from __future__ import annotations

import importlib.util
import os


def _tool():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "check_oracle.py",
    )
    spec = importlib.util.spec_from_file_location("check_oracle_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TestReplayRetryLimit:
    def test_units_parse_as_duckdb_reads_them(self):
        co = _tool()
        assert co.memory_limit_bytes("256MiB") == 256 * 2**20
        assert co.memory_limit_bytes("2GB") == 2e9
        assert co.memory_limit_bytes(" 1.5 GiB ") == 1.5 * 2**30

    def test_floor_raises_a_lower_limit(self):
        co = _tool()
        assert co.replay_retry_limit("256MiB") == "2GiB"
        assert co.replay_retry_limit("2GB") == "2GiB"  # 2e9 B < 2 GiB

    def test_configured_limit_above_the_floor_is_kept(self):
        co = _tool()
        assert co.replay_retry_limit("4GiB") == "4GiB"
        assert co.replay_retry_limit("3000MB") == "3000MB"
