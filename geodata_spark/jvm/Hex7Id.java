package geodata_spark.jvm;

import java.nio.ByteBuffer;

import org.apache.spark.sql.api.java.UDF2;

/**
 * hexgrid.hex7_id_np as a Spark function: (lat, lon) degrees to the
 * 64-bit hex7 id at one res, NULL for a NULL, NaN or infinite input.
 *
 * Every constant comes from the constructor, which hexgrid fills from
 * its numpy geometry, so this file holds only the op sequence: numpy's
 * operations in numpy's order, with Spark's expression semantics where
 * they differ from plain Java.  Java double arithmetic is strict IEEE,
 * so the ids equal those of the same sequence as Spark expressions.
 */
public final class Hex7Id implements UDF2<Double, Double, Long> {
    private static final double RADIANS = Math.PI / 180.0;
    private static final double SEVENTH = 1.0 / 7.0;

    private final int res;
    private final double[] frames;  // per face: centre, e1, e2
    private final double resScale;  // sqrt(7)^res over the res-0 unit
    private final double rot;       // Class III lattice rotation, 0 at Class II
    private final double sin60;
    private final long stamp;       // res field and the 7s past res

    public Hex7Id(int res, byte[] frames, double resScale, double rot, double sin60, long stamp) {
        if (res < 0 || res > 15 || frames.length != 20 * 9 * 8) {
            throw new IllegalArgumentException("res 0..15 and 180 big-endian doubles");
        }
        this.res = res;
        this.frames = new double[20 * 9];
        ByteBuffer.wrap(frames).asDoubleBuffer().get(this.frames);
        this.resScale = resScale;
        this.rot = rot;
        this.sin60 = sin60;
        this.stamp = stamp;
    }

    @Override
    public Long call(Double lat, Double lon) {
        if (lat == null || lon == null || !Double.isFinite(lat) || !Double.isFinite(lon)) {
            return null;
        }
        double phi = lat * RADIANS;
        double lam = lon * RADIANS;
        double x = Math.cos(phi) * Math.cos(lam);
        double y = Math.cos(phi) * Math.sin(lam);
        double z = Math.sin(phi);

        // face 19 - f's centre is exactly minus face f's, so ten dots
        // give all twenty; the face is the first maximum, and its dot
        // is the gnomonic denominator
        double[] dot = new double[10];
        double g = 0.0;
        for (int f = 0; f < 10; f++) {
            dot[f] = (x * frames[9 * f] + y * frames[9 * f + 1]) + z * frames[9 * f + 2];
            g = Math.max(g, Math.abs(dot[f]));
        }
        int face = 0;
        while (face < 19 && (face < 10 ? dot[face] < g : dot[19 - face] > -g)) {
            face++;
        }
        int c = 9 * face;
        double t0 = x / g - frames[c];
        double t1 = y / g - frames[c + 1];
        double t2 = z / g - frames[c + 2];
        double u = (t0 * frames[c + 3] + t1 * frames[c + 4]) + t2 * frames[c + 5];
        double v = (t0 * frames[c + 6] + t1 * frames[c + 7]) + t2 * frames[c + 8];

        // gnomonic plane to lattice: polar form, Class III rotation
        // (theta - 0.0 is theta), scale.  Spark's atan2 adds 0.0 to each
        // argument (-0.0 -> 0.0).
        double rs = Math.hypot(u, v) * resScale;
        double theta = Math.atan2(v + 0.0, u + 0.0) - rot;
        double aj = rs * Math.sin(theta) / sin60;
        double ai = rs * Math.cos(theta) + aj * 0.5;

        // cube-coordinate round, half to even like np.round
        double s = -ai - aj;
        double rq = Math.rint(ai);
        double rr = Math.rint(aj);
        double rsr = Math.rint(s);
        double dq = Math.abs(rq - ai);
        double dr = Math.abs(rr - aj);
        double ds = Math.abs(rsr - s);
        boolean fixQ = dq > dr && dq > ds;
        double a = fixQ ? -rr - rsr : rq;
        double b = !fixQ && dr > ds ? -rq - rsr : rr;

        // walk to res 0 on axial (a, b) = (i - k, j - k).  lround(n / 7)
        // of an integer n (never a tie) is the nearest integer to
        // n * (1/7).  The digit at level r is (4i + 2j + k) of the unit
        // residual, which is v mod 7 for v = 4 da + 2 db in -6..6.
        long id = stamp | (long) face << 52;
        for (int r = res; r > 0; r--) {
            double pa, pb;
            long dv;
            if (r % 2 == 1) {
                pa = Math.rint((3.0 * a - b) * SEVENTH);
                pb = Math.rint((a + 2.0 * b) * SEVENTH);
                dv = (long) (4.0 * a + 2.0 * b - 6.0 * pa - 10.0 * pb);
            } else {
                pa = Math.rint((2.0 * a + b) * SEVENTH);
                pb = Math.rint((3.0 * b - a) * SEVENTH);
                dv = (long) (4.0 * a + 2.0 * b - 14.0 * pa);
            }
            id |= Math.floorMod(dv, 7L) << (45 - 3 * r);
            a = pa;
            b = pb;
        }
        // res-0 IJK, normalized, each component clipped to its 2 bits
        double m = Math.min(Math.min(a, b), 0.0);
        return id
            | (long) Math.min(a - m, 3.0) << 50
            | (long) Math.min(b - m, 3.0) << 48
            | (long) Math.min(-m, 3.0) << 46;
    }
}
