#!/bin/bash
# Main LOC: the non-blank, non-comment lines of src/main/**/*.scala. A
# comment line is one whose first non-blank characters are //, /* or *
# (scaladoc and block-comment bodies). Usage: tools/loc.sh [repo dir]
set -e
root="${1:-$(dirname "$0")/..}"
find "$root/src/main" -name '*.scala' -print0 | xargs -0 cat |
  grep -v -E '^[[:space:]]*($|//|/\*|\*)' | wc -l
