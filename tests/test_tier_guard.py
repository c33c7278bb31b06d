"""The full-tier membership list in conftest.py fails loudly on stale names."""

from __future__ import annotations

import types

from conftest import FULL_TIER_TESTS, stale_full_tier_entries


def test_stale_full_tier_entries_are_reported():
    """The tier guard flags an entry whose collected file lacks the
    named test, and ignores files that were not collected."""
    entry = next(e for e in sorted(FULL_TIER_TESTS) if e.startswith("test_dedup_gate.py::"))
    renamed = types.ModuleType("test_dedup_gate")
    assert entry in stale_full_tier_entries({"test_dedup_gate.py": renamed})
    setattr(renamed, entry.split("::", 1)[1], lambda: None)
    assert entry not in stale_full_tier_entries({"test_dedup_gate.py": renamed})
    assert stale_full_tier_entries({}) == []
