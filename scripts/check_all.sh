#!/usr/bin/env bash
# Round-ending ritual (judge r7 #3): the FULL test suite in ONE pytest
# process (cross-file state bugs — shared _STIX_STORES, logger-cache
# poisoning — only surface this way), then every slot of the correctness
# battery in one process (order-dependent store corruption only surfaces
# this way). Run before ending every round; log the result in NOTES_r{N}.
set -euo pipefail
cd "$(dirname "$0")/.."
echo "== pytest tests/ (single process) =="
python -m pytest tests/ -q
echo "== full correctness battery (sf0.01) =="
python scripts/check_correctness.py
echo "== check_all: ALL GREEN =="
