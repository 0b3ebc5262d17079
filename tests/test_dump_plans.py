"""``tools/dump_plans.py --side`` section headers.

Spark leaves an SQL execution's description empty or null when no job
group or action named it; the header must still render, not raise.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.dump_plans import _side_header


def test_side_header_empty_or_missing_description():
    assert _side_header(7, "") == "\n\n=== side execution 7:  ===\n"
    assert _side_header(7, None) == "\n\n=== side execution 7:  ===\n"


def test_side_header_keeps_first_line_truncated():
    assert _side_header(3, "count at x.py:1\nmore") == (
        "\n\n=== side execution 3: count at x.py:1 ===\n"
    )
    assert _side_header(3, "a" * 200).count("a") == 120
