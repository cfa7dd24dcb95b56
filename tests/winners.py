"""Print the codec and payload size the selector picks for every block
of `fuzzgen.selection_blocks()`, one `name n_tokens codec bytes` line
each, then the total on stderr. Diff the output of two checkouts to
see every block whose codec changed:

    python tests/winners.py > winners.txt
"""

import os
import sys

sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from fuzzgen import selection_blocks  # noqa: E402
from rle_spark.selector import select_and_encode  # noqa: E402

total = 0
for name, arr in selection_blocks():
    codec, payload, _ = select_and_encode(arr)
    total += len(payload)
    print(name, len(arr), codec, len(payload))
print("total bytes", total, file=sys.stderr)
