"""The fast profile's slow marking (tests/conftest.py) spares node ids named
on the command line however they are spelled: rootdir-relative, absolute,
or relative to another working directory."""

import os
from pathlib import Path
from types import SimpleNamespace

import pytest

from conftest import pytest_collection_modifyitems

ROOT = Path(__file__).resolve().parent.parent
SLOW_ID = "tests/test_graph_algo.py::test_star_contraction_round_bound"
OTHER_SLOW_ID = "tests/test_graph_algo.py::test_louvain_two_cliques"


class _Item:
    def __init__(self, nodeid):
        self.nodeid = nodeid
        self.markers = []

    def add_marker(self, marker):
        self.markers.append(marker.name)


def _marked(args, cwd):
    config = SimpleNamespace(
        args=args, rootpath=ROOT,
        invocation_params=SimpleNamespace(dir=cwd))
    items = [_Item(SLOW_ID), _Item(OTHER_SLOW_ID)]
    pytest_collection_modifyitems(config, items)
    return {i.nodeid: "slow" in i.markers for i in items}


def test_slow_ids_are_listed():
    listed = (ROOT / "tests" / "slow_tests.txt").read_text().split()
    assert SLOW_ID in listed and OTHER_SLOW_ID in listed


@pytest.mark.parametrize("arg,cwd", [
    (SLOW_ID, ROOT),
    (str(ROOT / SLOW_ID), ROOT),
    (str(ROOT / SLOW_ID), ROOT / "tests"),
    ("test_graph_algo.py::test_star_contraction_round_bound", ROOT / "tests"),
    (os.path.join("..", SLOW_ID), ROOT / "tests"),
], ids=["rootdir-relative", "absolute", "absolute-from-tests",
        "cd-tests", "dotdot"])
def test_explicit_slow_node_id_is_not_deselected(arg, cwd):
    assert _marked([arg], cwd) == {SLOW_ID: False, OTHER_SLOW_ID: True}


def test_plain_path_arguments_select_nothing_explicitly():
    # a bare file or directory argument selects nothing explicitly
    assert _marked(["tests/test_graph_algo.py", "tests"], ROOT) == {
        SLOW_ID: True, OTHER_SLOW_ID: True}
