#!/bin/bash
# Round-14 board item 1: measure the scaledC clamp regime at sf5 and
# gate the SPARK_GRAFT_IVF_CMAX escape bit-exact vs the oracle.
cd /root/repo
set -o pipefail
OUT=target/sf5fit_r14.txt
: > $OUT

echo "=== A: same-JVM cross-scale fit, e8b (ivfDedup noop), ONE JVM" >> $OUT
echo "    warmup point first (unreported), then sf1->sf2->sf5(clamped C=4096)" >> $OUT
echo "    ->sf5(escaped C=8192), then a warm repeat of the sf5 pair" >> $OUT
SPARK_GRAFT_IVF_CMAX=16384 sbt -batch "Test/runMain graft.E8Probe /root/repo/target/sf5 n1024@/root/repo/target/sf0.5,n2048@/root/repo/target/sf1,n4096@/root/repo/target/sf2,n4096@/root/repo/target/sf5,n8192@/root/repo/target/sf5,n4096@/root/repo/target/sf5,n8192@/root/repo/target/sf5" 2>&1 | grep e8probe >> $OUT
echo A_DONE >> $OUT

echo "=== B: same-JVM fit, e16b (ivfDecontam noop), same shape" >> $OUT
SPARK_GRAFT_IVF_CMAX=16384 sbt -batch "Test/runMain graft.E8Probe /root/repo/target/sf5 m1024@/root/repo/target/sf0.5,m2048@/root/repo/target/sf1,m4096@/root/repo/target/sf2,m4096@/root/repo/target/sf5,m8192@/root/repo/target/sf5,m4096@/root/repo/target/sf5,m8192@/root/repo/target/sf5" 2>&1 | grep e8probe >> $OUT
echo B_DONE >> $OUT

echo SF5FIT_ALL_DONE >> $OUT
