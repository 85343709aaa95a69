"""API.md staleness guard, Spark-free: ``tools/gen_api.py --check``
renders the index from the package as imported and compares it with the
committed API.md, so a deleted or renamed parameter cannot leave the
index out of date."""

from __future__ import annotations

import pytest

from tools import gen_api


def test_api_md_is_current():
    assert gen_api.main(["--check"]) == 0, "rerun python tools/gen_api.py"


def test_check_flags_a_stale_index_and_writes_nothing(tmp_path, monkeypatch):
    stale = tmp_path / "API.md"
    stale.write_text("# API index\n")
    monkeypatch.setattr(gen_api, "REPO", str(tmp_path))
    assert gen_api.main(["--check"]) == 1
    with pytest.raises(SystemExit):
        gen_api.main(["--help"])
    assert stale.read_text() == "# API index\n"
