#!/usr/bin/env bash
# Rebuild goe_spark/jvm/goe-localfs.jar from the Java sources beside it,
# compiled against the Hadoop classes in the installed pyspark.
#
#     tools/build_localfs_jar.sh [OUT_JAR]
#
# OUT_JAR defaults to the committed jar. Needs javac and jar on PATH.
set -euo pipefail

here="$(cd "$(dirname "$0")/.." && pwd)"
src="$here/goe_spark/jvm"
out="${1:-$src/goe-localfs.jar}"
jars="$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')"

classes="$(mktemp -d)"
trap 'rm -rf "$classes"' EXIT
javac --release 17 -nowarn -cp "$jars/*" -d "$classes" \
  "$src/NioRawLocalFileSystem.java" "$src/NioLocalFileSystem.java"
jar --create --no-manifest --file "$out" -C "$classes" goe
