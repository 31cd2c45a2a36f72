#!/usr/bin/env python
"""`python bench.py --suite table-pip`: see bench.py for the suite and its options."""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402

bench.main(["--suite", "table-pip", *sys.argv[1:]])
