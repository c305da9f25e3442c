"""The slow-test list in conftest.py names only tests that exist."""

from __future__ import annotations

import conftest


def test_every_slow_test_is_defined():
    assert conftest.undefined_slow_tests() == set()


def test_renamed_slow_test_is_reported(tmp_path):
    name = sorted(conftest.SLOW_TESTS)[0]
    (tmp_path / "test_a.py").write_text(
        "".join(f"def {n}():\n    pass\n" for n in conftest.SLOW_TESTS
                if n != name)
        + f"def {name}_renamed():\n    pass\n"
    )
    assert conftest.undefined_slow_tests(str(tmp_path)) == {name}
