#!/bin/bash
# Memory-subsystem health probe for benchmark windows.
#
# This VM's host has TWO noise modes: episodic CPU steal (visible in
# /proc/stat field 9 — scaling_pinned.sh reports it) and sustained
# LLC/DRAM contention from noisy host neighbors, which is INVISIBLE to
# steal ticks and guest meminfo but slows pointer-chasing workloads
# (the HTML parser, Spark row processing) by 3-25x while leaving tight
# arithmetic loops at full speed. Measured on 2026-08-17 ~19:40-22:30Z:
# 64MB random chase 271 ns/hop (healthy ~100), 8MB chase 145 ns
# (healthy ~25 — the shared LLC was effectively stolen by another
# guest), single-thread strided read 4.1 GB/s (healthy 10-15), while
# a 500M-iteration multiply loop ran at full speed and steal was ~0.
#
# Run this BEFORE and AFTER any benchmark whose number you intend to
# publish, and record the ns/hop next to the result: a crawl number
# taken at 250+ ns/hop understates the engine ~2.5-3x.
#
# The probe runs pinned to one CPU: MEMLAT_CPU, or by default the highest
# CPU in this shell's affinity list (the list is ascending, so its last
# number).
#
# Output: one JSON line {"l2_ns":..,"llc_ns":..,"dram_ns":..,"stride_gbps":..}
set -e
cpu=${MEMLAT_CPU:-$(taskset -pc $$ | awk -F'[ ,-]+' '{print $NF}')}
d=$(mktemp -d)
trap 'rm -rf "$d"' EXIT
cat > "$d/MemLat.java" <<'EOF'
import java.util.Random;
public class MemLat {
  static long blackhole;
  static double chase(int n, int hops) {
    int[] next = new int[n];
    Random r = new Random(42);
    int[] perm = new int[n];
    for (int i = 0; i < n; i++) perm[i] = i;
    for (int i = n - 1; i > 0; i--) { int j = r.nextInt(i + 1); int t = perm[i]; perm[i] = perm[j]; perm[j] = t; }
    for (int i = 0; i < n; i++) next[perm[i]] = perm[(i + 1) % n];
    int p = 0; long t0 = System.nanoTime();
    for (int i = 0; i < hops; i++) p = next[p];
    blackhole += p;
    return (System.nanoTime() - t0) / 1e9 * 1e9 / hops;
  }
  public static void main(String[] a) {
    double l2 = chase(256 << 10, 100_000_000);   // 1 MB: private-cache resident
    double llc = chase(2 << 20, 50_000_000);     // 8 MB: shared-LLC sized
    double dram = chase(16 << 20, 20_000_000);   // 64 MB: DRAM latency
    int n = 16 << 20; int[] arr = new int[n]; long s = 0;
    long t0 = System.nanoTime();
    for (int k = 0; k < 20; k++) for (int i = 0; i < n; i += 16) s += arr[i];
    blackhole += s;
    double gbps = 20.0 * n / 16 * 64 / ((System.nanoTime() - t0) / 1e9) / 1e9;
    System.out.printf("{\"l2_ns\":%.1f,\"llc_ns\":%.1f,\"dram_ns\":%.1f,\"stride_gbps\":%.1f}%n", l2, llc, dram, gbps);
  }
}
EOF
javac -d "$d" "$d/MemLat.java"
taskset -c "$cpu" java -cp "$d" -Xmx2g MemLat
