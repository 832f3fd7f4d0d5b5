#!/bin/bash
# manifest_sequence.sh CLASSES OUT — run ManifestSequence (every manifest
# verb once, 19 commits) against the engine classes in CLASSES on a fresh
# table under OUT, and write the table's manifests and head hint to
# OUT/manifests.txt with generation and file uuids normalized, plus the
# surviving entries of the table directory to OUT/listing.txt. A
# _graft_checkpoint-* file, which older builds wrote, is included when
# present, so a diff against such a build shows it. Two builds write the
# same wire form iff both files diff clean:
#   tools/manifest_sequence/manifest_sequence.sh parent/.bench_build/classes /tmp/a
#   tools/manifest_sequence/manifest_sequence.sh .bench_build/classes /tmp/b
#   diff /tmp/a/manifests.txt /tmp/b/manifests.txt
# (`python3 etlbench/build.py` compiles a checkout into .bench_build/classes.)
# Spark's jars come from SPARK_JARS, else build.sbt's unmanagedBase.
set -e
[ $# -eq 2 ] || { echo "usage: $0 CLASSES OUT" >&2; exit 2; }
HERE=$(cd "$(dirname "$0")" && pwd)
CL=$(cd "$1" && pwd); OUT=$2
J=${SPARK_JARS:-$(sed -n 's/^unmanagedBase := file("\(.*\)").*/\1/p' "$HERE/../../build.sbt")}
V=2.13.17
rm -rf "$OUT"; mkdir -p "$OUT/cls"; OUT=$(cd "$OUT" && pwd)
java -Xss8m -Xmx1g \
  -cp "$J/scala-compiler-$V.jar:$J/scala-library-$V.jar:$J/scala-reflect-$V.jar" \
  scala.tools.nsc.Main -nowarn -d "$OUT/cls" -classpath "$CL:$J/*" \
  "$HERE/ManifestSequence.scala"
OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  OPENS="$OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
java $OPENS -Xmx2g -cp "$OUT/cls:$CL:$J/*" graft.ManifestSequence "$OUT" \
  2>/dev/null
cd "$OUT/t"
for f in $(ls | grep -E '^_graft_(manifest-|checkpoint-|last_checkpoint)' | sort); do
  echo "== $f"
  sed -E 's/(_gen-[0-9]{6}-(b[0-9]+-(d-)?|p[0-9]+-|x-)?)[0-9a-f]{8}/\1UUID/g;
          s/part-[0-9]{5}-[0-9a-f-]{36}/part-N-UUID/g' "$f"
  echo
done > "$OUT/manifests.txt"
ls -a | sed -E 's/[0-9a-f]{8}$/UUID/' > "$OUT/listing.txt"
