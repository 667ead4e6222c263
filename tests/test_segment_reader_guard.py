"""Guard: the query-time read path of a segment goes through one reader.

``index/postings.py`` reads postings, the term dictionary and the docs
dimension for every query entry; only the writers (build, merge, bloom
sidecars) open segment files themselves. The shard -> bucket rule
(``sb = shard % n_sb``) lives in that reader alone.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "bugzilla_etl_spark"
READER_AND_WRITERS = {"postings.py", "build.py", "merge.py", "bloom.py"}


def _sources(root: pathlib.Path) -> dict[str, str]:
    return {
        str(p.relative_to(PKG)): p.read_text()
        for p in sorted(root.rglob("*.py"))
    }


def test_pyarrow_datasets_open_only_in_reader_and_writers():
    opened = {
        name for name, src in _sources(PKG / "index").items()
        if re.search(r"\bdataset\(", src)
    }
    assert opened, "the guard must see the reader's own dataset opens"
    assert {pathlib.Path(n).name for n in opened} <= READER_AND_WRITERS, (
        sorted(opened)
    )


def test_bucket_rule_only_in_reader():
    rule = re.compile(r"%\s*n_sb\s*==\s*sb\b")
    holders = [name for name, src in _sources(PKG).items() if rule.search(src)]
    assert holders == ["index/postings.py"], holders
